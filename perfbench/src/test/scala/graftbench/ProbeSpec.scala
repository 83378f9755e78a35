package graftbench

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import graft.reco.FoldInRecommender

class ProbeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.getOrCreate("probe-spec")

  override def afterAll(): Unit = spark.stop()

  private def jobsOfGroup(g: String): Int =
    spark.sparkContext.statusTracker.getJobIdsForGroup(g).length

  test("attaching the listener adds no Spark job and drops no events") {
    val sc = spark.sparkContext
    def work(): Long = spark.range(0, 20000, 1, 6).selectExpr("id % 7 as k")
      .groupBy("k").count().collect().map(_.getLong(1)).sum

    sc.setJobGroup("without", "no listener")
    assert(work() == 20000)
    val attribution = new Attribution
    sc.addSparkListener(attribution)
    val trace = new Trace(enabled = true, runId = "spec")
    sc.setJobGroup("with", "listener")
    assert(trace(sc, "work")(work()) == 20000)
    sc.clearJobGroup()
    Attribution.drain(sc)
    sc.removeSparkListener(attribution)

    val jobs = sc.statusTracker.getJobIdsForGroup("with")
    assert(jobsOfGroup("with") == jobsOfGroup("without"))
    val c = attribution("work")
    assert(c.jobs == jobs.length)
    // every task of every stage that ran reached the listener
    val ran = jobs.flatMap(j => sc.statusTracker.getJobInfo(j).toSeq.flatMap(_.stageIds))
      .flatMap(s => sc.statusTracker.getStageInfo(s).toSeq)
      .filter(_.numCompletedTasks > 0)
    assert(c.stages == ran.length)
    assert(c.tasks == ran.map(_.numCompletedTasks).sum)
    assert(c.failedTasks == 0)
    assert(c.cpuNs > 0 && c.stageUnionMs > 0)
    assert(attribution(Attribution.Unattributed).jobs == 0)
    assert(trace.all.map(_.name) == Seq("work"))
  }

  test("self time is a span minus what its children cover") {
    val t = new Trace(enabled = true, runId = "spec")
    t.record("outer") {
      t.record("a")(Thread.sleep(20))
      t.record("b")(Thread.sleep(20))
    }
    val outer = t.all.find(_.name == "outer").get
    val kids = t.all.filter(_.parent == outer.id)
    assert(kids.map(_.name).toSet == Set("a", "b"))
    val self = t.selfNs(outer)
    assert(self >= 0 && self < (outer.endNs - outer.startNs) - 35000000L)
    val off = new Trace(enabled = false, runId = "spec")
    assert(off.record("x")(41 + 1) == 42 && off.all.isEmpty)
  }

  test("interval union and nearest-rank percentiles") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) == 10L)
    assert(Stats.unionLength(Nil) == 0L)
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5) == 50.0)
    assert(Stats.percentile(xs, 0.99) == 99.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("the plain-array reference solve agrees with the engine's fold-in") {
    val m = Gen.recoModel(9L, items = 300, rank = 6)
    val engine = FoldInRecommender.fromFactors(m.ids, m.factors, m.titles)
    Gen.recoRequests(9L, m, 200).filterNot(_.malformed).foreach { r =>
      val want = Reference.recommend(m, r.seeds, 5, 0.1)
      val got = engine.recommend(r.seeds, 5, 0.1).map(x => (x.filmId, x.score))
      assert(got.map(_._1) == want.map(_._1))
      got.zip(want).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-9) }
    }
  }

  test("Cholesky solve on a hand-checkable system") {
    // [[4,2],[2,3]] x = [2, 1]  ->  x = [0.5, 0]
    val x = Reference.choleskySolve(Array(Array(4.0, 2.0), Array(2.0, 3.0)), Array(2.0, 1.0))
    assert(math.abs(x(0) - 0.5) < 1e-12 && math.abs(x(1)) < 1e-12)
  }
}
