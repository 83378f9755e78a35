package graft.reco

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.SparkContext
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.ml.tuning.{ParamGridBuilder, TrainValidationSplit, TrainValidationSplitModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MLlib ALS training pipeline (SURVEY §2.11 M1-M5), with the
  * reference's exact configuration: rank 20, maxIter 15, regParam 0.1,
  * nonnegative, coldStartStrategy=drop
  * (`Modelo/Crear modelo.ipynb:96-105`).
  */
object AlsTrainer {

  final case class Config(
      rank: Int = 20,
      maxIter: Int = 15,
      regParam: Double = 0.1,
      nonnegative: Boolean = true,
      coldStartStrategy: String = "drop",
      userCol: String = "userId",
      itemCol: String = "filmId",
      ratingCol: String = "rating",
      seed: Long = 42L)

  /** Input preparation — `Crear modelo.ipynb:84-89`: project the three
    * columns, drop null ratings, cast rating to float, dedup
    * (userId, filmId).
    */
  def prepare(ratings: DataFrame, cfg: Config = Config()): DataFrame =
    ratings
      .select(cfg.userCol, cfg.itemCol, cfg.ratingCol)
      .na.drop()
      .withColumn(cfg.ratingCol, col(cfg.ratingCol).cast("float"))
      .dropDuplicates(Seq(cfg.userCol, cfg.itemCol))

  /** 80/20 split, seed 42 — `Crear modelo.ipynb:93`. */
  def split(df: DataFrame, seed: Long = 42L): (DataFrame, DataFrame) = {
    val parts = df.randomSplit(Array(0.8, 0.2), seed)
    (parts(0), parts(1))
  }

  /** The estimator [[train]], [[trainImplicit]] and [[tune]] fit, with
    * the context's checkpoint directory in place. It cuts users and
    * items into `min(defaultParallelism, 10)` blocks each. MLlib's fixed
    * default of 10 makes every stage of every iteration 10 tasks wide,
    * which on fewer cores only adds scheduling: on 4 cores, ~79K
    * ratings at rank 20 and 15 iterations trained in 3.5 s with 10
    * blocks and 2.1 s with 4. With 10 or more cores nothing changes. */
  def als(sc: SparkContext, cfg: Config): ALS = {
    ensureCheckpointDir(sc)
    new ALS()
      .setNumBlocks(math.min(sc.defaultParallelism, 10))
      .setRank(cfg.rank)
      .setMaxIter(cfg.maxIter)
      .setRegParam(cfg.regParam)
      .setNonnegative(cfg.nonnegative)
      .setColdStartStrategy(cfg.coldStartStrategy)
      .setUserCol(cfg.userCol)
      .setItemCol(cfg.itemCol)
      .setRatingCol(cfg.ratingCol)
      .setSeed(cfg.seed)
  }

  def train(trainDf: DataFrame, cfg: Config = Config()): ALSModel =
    als(trainDf.sparkSession.sparkContext, cfg).fit(trainDf)

  /** ALS's RDD lineage grows with every iteration. Without truncation a
    * 15-iteration model's tasks can overflow the default 1 MB thread
    * stack while being serialized (seen in [[rmse]], about once in 25
    * runs). ALS cuts the lineage every `checkpointInterval` (default 10)
    * iterations, but only when the SparkContext has a checkpoint
    * directory: give it one under the JVM temp dir, removed at JVM exit,
    * unless the caller has set one already. */
  private def ensureCheckpointDir(sc: SparkContext): Unit = synchronized {
    if (sc.getCheckpointDir.isEmpty) {
      val dir = Files.createTempDirectory("graft-als-checkpoint").toFile
      sys.addShutdownHook(FileUtils.deleteQuietly(dir))
      sc.setCheckpointDir(dir.getPath)
    }
  }

  /** RMSE on a holdout — M3 (`RegressionEvaluator`, reference 0.8627). */
  def rmse(model: ALSModel, test: DataFrame,
      cfg: Config = Config()): Double =
    new RegressionEvaluator()
      .setMetricName("rmse")
      .setLabelCol(cfg.ratingCol)
      .setPredictionCol("prediction")
      .evaluate(model.transform(test))

  /** Batch top-N for all users — M4 (`recommendForAllUsers(5)`). */
  def topNForAllUsers(model: ALSModel, n: Int = 5): DataFrame =
    model.recommendForAllUsers(n)

  /** IMPLICIT-feedback ALS (Hu/Koren/Volinsky 2008) — the M-family
    * extension for interaction data with no explicit rating: the
    * "rating" column becomes a confidence-weighted preference signal
    * (c = 1 + alpha·r), and the model factorizes the binary
    * preference matrix over ALL user-item cells, not just observed
    * ones. Same distributed block factorization as the explicit
    * path — the confidence weighting changes the per-block normal
    * equations, not the shuffle shape.
    */
  def trainImplicit(trainDf: DataFrame, cfg: Config = Config(),
      alpha: Double = 10.0): ALSModel =
    als(trainDf.sparkSession.sparkContext, cfg)
      .setImplicitPrefs(true).setAlpha(alpha).fit(trainDf)

  /** Precision@k of [[topNForAllUsers]] against a ground-truth
    * positives table (userCol, itemCol) — the ranking metric implicit
    * models are judged by (RMSE is meaningless on binary preference).
    * Distributed shape: explode the k recommendations, one left join
    * against the positives, ONE aggregation computing hits and total
    * together — `recommendForAllUsers` (the expensive stage) executes
    * exactly once (r10 advice: the semi-join count + recs.count()
    * shape re-ran it twice). Empty recs returns 0.0, not NaN.
    */
  def precisionAtK(model: ALSModel, positives: DataFrame, k: Int,
      cfg: Config = Config()): Double = {
    val recs = topNForAllUsers(model, k)
      .select(col(cfg.userCol),
        explode(col("recommendations")).as("rec"))
      .select(col(cfg.userCol), col(s"rec.${cfg.itemCol}"))
    val pos = positives.select(cfg.userCol, cfg.itemCol)
      .dropDuplicates(cfg.userCol, cfg.itemCol)
      .withColumn("hit", lit(1L))
    val row = recs.join(pos, Seq(cfg.userCol, cfg.itemCol), "left")
      .agg(count(lit(1)).as("total"), sum("hit").as("hits"))
      .head()
    val total = row.getLong(0)
    if (total == 0L) 0.0
    else (if (row.isNullAt(1)) 0L else row.getLong(1)).toDouble / total
  }

  /** Hyperparameter search — M5: grid {rank}×{reg}×{maxIter} with
    * TrainValidationSplit(trainRatio=0.8, parallelism=2), mirroring
    * `Crear modelo.ipynb:595-607` (best there: 20 / 0.1 / 15).
    */
  def tune(df: DataFrame, ranks: Seq[Int], regs: Seq[Double],
      iters: Seq[Int], cfg: Config = Config())
      : TrainValidationSplitModel = {
    val estimator = als(df.sparkSession.sparkContext, cfg)
    val grid = new ParamGridBuilder()
      .addGrid(estimator.rank, ranks)
      .addGrid(estimator.regParam, regs)
      .addGrid(estimator.maxIter, iters)
      .build()
    new TrainValidationSplit()
      .setEstimator(estimator)
      .setEvaluator(new RegressionEvaluator()
        .setMetricName("rmse")
        .setLabelCol(cfg.ratingCol)
        .setPredictionCol("prediction"))
      .setEstimatorParamMaps(grid)
      .setTrainRatio(0.8)
      .setParallelism(2)
      .setSeed(cfg.seed)
      .fit(df)
  }
}
