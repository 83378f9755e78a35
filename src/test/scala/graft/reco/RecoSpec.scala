package graft.reco

import java.nio.file.Files

import graft.SparkSuite
import org.apache.spark.ml.recommendation.ALSModel
import org.apache.spark.sql.functions.col

class RecoSpec extends SparkSuite {
  import spark.implicits._

  /** Planted low-rank ratings: user u rates item i as a noiseless
    *2-factor product, quantized to 1..5 — ALS should fit well. */
  private lazy val ratings = {
    val rows = for {
      u <- 0 until 20
      i <- 0 until 15
      if (u * 31 + i * 17) % 3 != 0 // ~2/3 density
    } yield {
      val pu = Array(1.0 + (u % 4) * 0.5, 1.0 + (u % 3) * 0.4)
      val qi = Array(0.6 + (i % 5) * 0.2, 0.5 + (i % 4) * 0.3)
      val raw = pu(0) * qi(0) + pu(1) * qi(1)
      val r = math.max(1, math.min(5, math.round(raw).toInt))
      (u, i, r)
    }
    rows.toDF("userId", "filmId", "rating")
  }

  test("ALS train/eval: prepare, split, fit, finite RMSE band (M1-M3)") {
    val prepared = AlsTrainer.prepare(ratings)
    val (train, test) = AlsTrainer.split(prepared)
    val cfg = AlsTrainer.Config(rank = 4, maxIter = 8)
    val model = AlsTrainer.train(train, cfg)
    val err = AlsTrainer.rmse(model, test, cfg)
    assert(!err.isNaN && err < 1.2, s"rmse $err out of band")
  }

  test("prepare drops nulls and duplicate (user,item) pairs (P11/P12)") {
    val dirty = Seq(
      (1, 1, Some(5)), (1, 1, Some(3)), (2, 1, None), (2, 2, Some(4)))
      .toDF("userId", "filmId", "rating")
    val prepared = AlsTrainer.prepare(dirty)
    assert(prepared.count() == 2) // dup collapsed, null dropped
  }

  test("recommendForAllUsers returns n recs per user (M4)") {
    val model = AlsTrainer.train(AlsTrainer.prepare(ratings),
      AlsTrainer.Config(rank = 2, maxIter = 5))
    val recs = AlsTrainer.topNForAllUsers(model, 3)
    assert(recs.count() == 20)
    assert(recs.head().getAs[scala.collection.Seq[Any]]("recommendations")
      .size == 3)
  }

  test("model save/load roundtrip preserves factors (S16)") {
    val model = AlsTrainer.train(AlsTrainer.prepare(ratings),
      AlsTrainer.Config(rank = 2, maxIter = 5))
    val dir = Files.createTempDirectory("als_model").resolve("m")
    model.write.overwrite().save(dir.toString)
    val loaded = ALSModel.load(dir.toString)
    assert(loaded.rank == 2)
    assert(loaded.itemFactors.count() == model.itemFactors.count())
  }

  test("fold-in solves the ridge system exactly on a hand-built Y (M6)") {
    // Y rows: items 10,11,12 are unit vectors e1,e2,e3; item 13=(1,1,0)
    val m = FoldInRecommender.fromFactors(
      Array(10, 11, 12, 13),
      Array(
        Array(1.0, 0.0, 0.0),
        Array(0.0, 1.0, 0.0),
        Array(0.0, 0.0, 1.0),
        Array(1.0, 1.0, 0.0)),
      Map(10 -> "A", 11 -> "B", 12 -> "C", 13 -> "D"))
    // rate items 10->4, 11->2: YrTYr = diag(1,1,0); lhs = diag(1.1,1.1,0.1)
    // u = (4/1.1, 2/1.1, 0) = (3.6364, 1.8182, 0)
    // scores: item12 = 0, item13 = 4/1.1 + 2/1.1 = 5.4545
    val recs = m.recommend(Seq((10, 4.0), (11, 2.0)), topN = 2)
    assert(recs.map(_.filmId) == Seq(13, 12))
    assert(math.abs(recs.head.score - 6.0 / 1.1) < 1e-9)
    assert(math.abs(recs(1).score - 0.0) < 1e-9)
    assert(recs.head.title == "D")
  }

  test("implicit ALS ranks in-group items first (M-extension)") {
    // two user blocks, two item blocks: block-u users interact only
    // with block-u items (counts 1..3). An implicit model must rank
    // unseen IN-block items above out-of-block ones.
    val interactions = (for {
      u <- 0 until 20
      i <- 0 until 20
      if (u < 10) == (i < 10) // in-group cells only
      if (u * 13 + i * 7) % 4 != 0 // ~3/4 observed
    } yield (u, i, 1 + (u + i) % 3)).toDF("userId", "filmId", "rating")
    val model = AlsTrainer.trainImplicit(
      AlsTrainer.prepare(interactions),
      AlsTrainer.Config(rank = 4, maxIter = 8), alpha = 10.0)
    // ground truth = every in-group cell, observed or not
    val positives = (for {
      u <- 0 until 20; i <- 0 until 20 if (u < 10) == (i < 10)
    } yield (u, i)).toDF("userId", "filmId")
    val p5 = AlsTrainer.precisionAtK(model, positives, 5)
    assert(p5 >= 0.9, s"precision@5 $p5 below band")
  }

  test("fold-in aligns ratings by item id regardless of request order") {
    val m = FoldInRecommender.fromFactors(
      Array(10, 11, 12, 13),
      Array(
        Array(1.0, 0.0, 0.0),
        Array(0.0, 1.0, 0.0),
        Array(0.0, 0.0, 1.0),
        Array(1.0, 1.0, 0.0)),
      Map())
    // same ratings, reversed request order -> identical result
    // (the reference mis-pairs here; deviation documented in Scaladoc)
    val a = m.recommend(Seq((10, 4.0), (11, 2.0)), topN = 2)
    val b = m.recommend(Seq((11, 2.0), (10, 4.0)), topN = 2)
    assert(a == b)
  }

  test("fold-in ignores unknown items; all-unknown raises (reference parity)") {
    val m = FoldInRecommender.fromFactors(
      Array(10, 11), Array(Array(1.0, 0.0), Array(0.0, 1.0)), Map())
    val recs = m.recommend(Seq((10, 5.0), (999, 3.0)), topN = 1)
    assert(recs.head.filmId == 11)
    intercept[IllegalArgumentException] {
      m.recommend(Seq((999, 3.0)))
    }
  }

  // ---- the ranking contract: score desc, then filmId asc ----

  private lazy val handBuilt = FoldInRecommender.fromFactors(
    Array(10, 11, 12, 13),
    Array(
      Array(1.0, 0.0, 0.0),
      Array(0.0, 1.0, 0.0),
      Array(0.0, 0.0, 1.0),
      Array(1.0, 1.0, 0.0)),
    Map(10 -> "A", 11 -> "B", 12 -> "C", 13 -> "D"))

  test("fold-in breaks score ties by the lower filmId, not row order") {
    // rows of 30, 10, 20 are equal, so their scores tie exactly
    val m = FoldInRecommender.fromFactors(
      Array(30, 10, 20, 40, 50),
      Array(Array(1.0, 0.0), Array(1.0, 0.0), Array(1.0, 0.0),
        Array(0.0, 2.0), Array(1.0, 1.0)),
      Map())
    val recs = m.recommend(Seq((50, 4.0)), topN = 4)
    assert(recs.map(_.filmId) == Seq(40, 10, 20, 30))
    assert(recs.tail.map(_.score).distinct.size == 1)
    assert(m.recommend(Seq((50, 4.0)), topN = 2).map(_.filmId) == Seq(40, 10))
  }

  test("fold-in topN beyond the candidates returns every unrated item; 0 none") {
    val seed = Seq((10, 4.0), (11, 2.0))
    assert(handBuilt.recommend(seed, topN = 10).map(_.filmId) == Seq(13, 12))
    assert(handBuilt.recommend(seed, topN = 0).isEmpty)
    assert(handBuilt.recommend(seed, topN = -1).isEmpty)
  }

  test("fold-in counts a duplicated seed twice in the solve, masks it once") {
    // Y_R holds row 10 twice: lhs = diag(2.1, 1.1, 0.1), rhs = (8, 2, 0)
    val recs = handBuilt.recommend(Seq((10, 4.0), (10, 4.0), (11, 2.0)), topN = 5)
    assert(recs.map(_.filmId) == Seq(13, 12))
    assert(math.abs(recs.head.score - (8.0 / 2.1 + 2.0 / 1.1)) < 1e-9)
  }

  test("fold-in ranks NaN scores after every number, ties by filmId") {
    val m = FoldInRecommender.fromFactors(
      Array(4, 2, 1, 3),
      Array(Array(Double.NaN, 1.0), Array(Double.NaN, 0.0),
        Array(1.0, 0.0), Array(0.0, 1.0)),
      Map())
    // u = (0, 5/1.1): item 1 scores 0.0, items 2 and 4 NaN
    assert(m.recommend(Seq((3, 5.0)), topN = 5).map(_.filmId) == Seq(1, 2, 4))
    assert(m.recommend(Seq((3, 5.0)), topN = 2).map(_.filmId) == Seq(1, 2))
  }

  test("fold-in masks rated items from recommendations") {
    val m = FoldInRecommender.fromFactors(
      Array(10, 11, 12),
      Array(Array(1.0, 0.0), Array(0.9, 0.1), Array(0.1, 0.9)), Map())
    val recs = m.recommend(Seq((10, 5.0)), topN = 3)
    assert(!recs.map(_.filmId).contains(10))
    assert(recs.size == 2)
  }

  test("fold-in on a user's own training ratings recovers their factor (§5)") {
    // ALS-WR: the trainer's per-user ridge solve uses λ·n_u (regParam
    // scaled by the user's rating count), and each iteration ends with
    // the user-side solve — so folding in user u's full training set
    // against the FINAL item factors with reg = regParam·n_u must
    // reproduce userFactors(u) up to solver tolerance. nonnegative=false
    // keeps the trained solve a plain ridge (NNLS would only match where
    // the unconstrained optimum is already nonnegative).
    import breeze.linalg.{norm, DenseVector}
    val cfg = AlsTrainer.Config(rank = 2, maxIter = 10, nonnegative = false)
    val prepared = AlsTrainer.prepare(ratings)
    val model = AlsTrainer.train(prepared, cfg)
    val movies = (0 until 15).map(i => (i, s"Film $i")).toDF("filmId", "film")
    val m = FoldInRecommender.fromModel(model, movies)
    val userFactors = model.userFactors.collect()
      .map(r => r.getInt(0) ->
        r.getAs[scala.collection.Seq[Float]](1).map(_.toDouble).toArray)
      .toMap
    val training = prepared.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getFloat(2).toDouble))
    Seq(0, 3, 7, 12, 19).foreach { u =>
      val seeds = training.filter(_._1 == u).map(t => (t._2, t._3)).toSeq
      assert(seeds.nonEmpty)
      val folded = m.foldInVector(seeds, reg = cfg.regParam * seeds.size)
      val trained = DenseVector(userFactors(u))
      val relErr = norm(folded - trained) / norm(trained)
      assert(relErr < 1e-3,
        s"user $u: fold-in $folded vs trained $trained (relErr $relErr)")
    }
  }

  test("TrainingMonitor records ALS training stages (M7)") {
    val (model, stages) = TrainingMonitor.monitored(spark) {
      AlsTrainer.train(AlsTrainer.prepare(ratings),
        AlsTrainer.Config(rank = 2, maxIter = 3))
    }
    assert(model.rank == 2)
    assert(stages.nonEmpty)
    // ALS lowers to RDD stages whose call sites name ALS.scala —
    // the same labels the reference's REST poller matches
    assert(stages.exists(_.name.contains("ALS.scala")),
      s"no ALS stage in: ${stages.map(_.name).distinct.take(10)}")
  }

  test("TrainingMonitor returns every stage its body completed") {
    // a second listener, drained before it is read, is the reference
    // count: monitored must not return after only the first stages
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    val reference = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        seen.incrementAndGet()
    }
    // earlier suites' events must not reach only the reference listener
    org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(reference)
    val (_, stages) = try TrainingMonitor.monitored(spark) {
      (1 to 3).foreach { i =>
        spark.range(0, 1000, 1, 4).groupBy((col("id") % i).as("k"))
          .count().collect()
      }
    } finally {
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(reference)
    }
    assert(stages.size >= 3)
    assert(stages.size == seen.get(),
      s"monitor saw ${stages.size} stages, the drained listener ${seen.get()}")
  }

  test("a 15-iteration train checkpoints the factors' lineage") {
    val model = AlsTrainer.train(AlsTrainer.prepare(ratings),
      AlsTrainer.Config(rank = 2, maxIter = 15))
    val lineage = model.itemFactors.rdd.toDebugString
    assert(lineage.contains("ReliableCheckpointRDD"), lineage)
  }

  test("train, trainImplicit and tune block users and items by parallelism") {
    // ALS's factor tables keep one partition per block
    val blocks = math.min(spark.sparkContext.defaultParallelism, 10)
    val est = AlsTrainer.als(spark.sparkContext, AlsTrainer.Config())
    assert(est.getNumUserBlocks == blocks && est.getNumItemBlocks == blocks)
    def factorParts(m: ALSModel): (Int, Int) =
      (m.userFactors.rdd.getNumPartitions, m.itemFactors.rdd.getNumPartitions)
    val prepared = AlsTrainer.prepare(ratings)
    val cfg = AlsTrainer.Config(rank = 2, maxIter = 2)
    assert(factorParts(AlsTrainer.train(prepared, cfg)) == (blocks, blocks))
    assert(factorParts(AlsTrainer.trainImplicit(prepared, cfg)) == (blocks, blocks))
    val tuned = AlsTrainer.tune(prepared, Seq(2), Seq(0.1), Seq(2), cfg)
    val tunedEst = tuned.getEstimator.asInstanceOf[org.apache.spark.ml.recommendation.ALS]
    assert(tunedEst.getNumUserBlocks == blocks && tunedEst.getNumItemBlocks == blocks)
    assert(factorParts(tuned.bestModel.asInstanceOf[ALSModel]) == (blocks, blocks))
  }

  test("summary/describe profile the prepared ratings (A10)") {
    val prepared = AlsTrainer.prepare(ratings)
    val summary = prepared.summary().collect()
      .map(r => r.getString(0) -> r).toMap
    assert(summary.contains("count") && summary.contains("50%"))
    assert(summary("count").getString(1).toLong == prepared.count())
    val desc = prepared.describe("rating").collect()
      .map(_.getString(0)).toSet
    assert(Set("count", "mean", "stddev", "min", "max").subsetOf(desc))
  }

  test("fold-in end-to-end from a trained ALSModel (M6 + S16)") {
    val model = AlsTrainer.train(AlsTrainer.prepare(ratings),
      AlsTrainer.Config(rank = 2, maxIter = 5))
    val movies = (0 until 15).map(i => (i, s"Film $i")).toDF("filmId", "film")
    val m = FoldInRecommender.fromModel(model, movies)
    val recs = m.recommend(Seq((0, 5.0), (1, 4.0)), topN = 5)
    assert(recs.size == 5)
    assert(recs.forall(r => r.filmId != 0 && r.filmId != 1))
    assert(recs.map(_.score).sliding(2).forall {
      case Seq(x, y) => x >= y
      case _ => true
    })
    assert(recs.head.title.startsWith("Film "))
  }
}
