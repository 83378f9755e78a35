package graft.reco

import breeze.linalg.{DenseMatrix, DenseVector}
import org.apache.spark.ml.recommendation.ALSModel
import org.apache.spark.sql.DataFrame

/** Cold-start fold-in recommender (SURVEY §2.11 M6) — the reference's
  * one real custom algorithm (`app4/recommender.py:39-53`): given seed
  * ratings r over rated item set R, solve the ridge system
  *
  *   (Y_Rᵀ·Y_R + λ·I_rank) · u = Y_Rᵀ·r        (λ = regParam)
  *
  * score s = Y·u, mask rated items to -∞, return top-N — the standard
  * ALS fold-in (Hu/Koren/Volinsky-style ridge solve). Item factors are
  * collected to the driver ONCE (C10: serving must not launch Spark
  * jobs); each request is O(|items|·rank) driver math in Breeze.
  *
  * Deviation from the reference (documented): `recommender.py:44-48`
  * builds `Y_r` in item-factor order but `r` in request order, silently
  * mis-pairing ratings when the request isn't sorted by factor id (and
  * crashing when a rated film is missing from the model). Here each
  * rating is aligned to its item id, and unknown ids are ignored
  * (matching the reference's mask semantics for scoring).
  */
object FoldInRecommender {

  final case class Rec(filmId: Int, title: String, score: Double)

  /** Driver-side model state: item ids, rank-wide factor matrix
    * (|items| × rank), and an id→title map.
    */
  final case class Model(itemIds: Array[Int], factors: DenseMatrix[Double],
      titles: Map[Int, String]) {
    val rank: Int = factors.cols
    private val rowOf: Map[Int, Int] = itemIds.zipWithIndex.toMap

    /** The ridge solve alone: fold a seed-rating set into a rank-dim
      * user vector. Exposed separately from [[recommend]] so the §5
      * property — folding in a user's OWN training ratings with the
      * trainer's effective regularization (ALS-WR scales λ by the
      * rating count) recovers that user's trained factor — can be
      * asserted against `ALSModel.userFactors` directly (RecoSpec).
      */
    def foldInVector(seedRatings: Seq[(Int, Double)],
        reg: Double = 0.1): DenseVector[Double] = {
      val known = seedRatings.filter { case (id, _) => rowOf.contains(id) }
      require(known.nonEmpty, "Ninguna de las pelis está en el modelo")
      // Y_R (k × rank) and r (k), id-aligned
      val yr = DenseMatrix.zeros[Double](known.size, rank)
      val r = DenseVector.zeros[Double](known.size)
      known.zipWithIndex.foreach { case ((id, rating), i) =>
        yr(i, ::) := factors(rowOf(id), ::)
        r(i) = rating
      }
      val lhs = (yr.t * yr) + (DenseMatrix.eye[Double](rank) *:* reg)
      val rhs = yr.t * r
      lhs \ rhs
    }

    /** Top-N recommendations for a cold-start user's seed ratings. */
    def recommend(seedRatings: Seq[(Int, Double)], topN: Int = 5,
        reg: Double = 0.1): Seq[Rec] = {
      val known = seedRatings.filter { case (id, _) => rowOf.contains(id) }
      val u = foldInVector(seedRatings, reg)
      val scores = factors * u
      val ratedRows = known.map { case (id, _) => rowOf(id) }.toSet
      val ranked = (0 until itemIds.length).iterator
        .filterNot(ratedRows.contains)
        .map(i => Rec(itemIds(i), titles.getOrElse(itemIds(i), ""),
          scores(i)))
        .toSeq
        .sortBy(rec => (-rec.score, rec.filmId))
      ranked.take(topN)
    }
  }

  /** Build the driver-side model from a trained ALSModel + title dim
    * (`app4/recommender.py:26-36`). One collect of |items| × rank
    * floats — 3.7K×20 in MovieLens, still tiny at catalog scale.
    */
  def fromModel(model: ALSModel, movies: DataFrame): Model = {
    val factorRows = model.itemFactors
      .select("id", "features")
      .collect()
      .map { r =>
        (r.getInt(0),
          r.getAs[scala.collection.Seq[Float]](1).map(_.toDouble).toArray)
      }
      .sortBy(_._1)
    // filmId may be int or long (the reference's pandas-written parquet
    // upcasts to long — SURVEY §1.3)
    val titles = movies.select("filmId", "film").collect()
      .map(r => r.getAs[Number](0).intValue() -> r.getString(1)).toMap
    fromFactors(factorRows.map(_._1), factorRows.map(_._2), titles)
  }

  /** Build directly from raw arrays: [[fromModel]]'s id-sorted
    * factors, tests, pre-exported factors. */
  def fromFactors(ids: Array[Int], rows: Array[Array[Double]],
      titles: Map[Int, String]): Model = {
    val rank = rows.head.length
    val mat = DenseMatrix.zeros[Double](ids.length, rank)
    rows.zipWithIndex.foreach { case (f, i) =>
      (0 until rank).foreach(j => mat(i, j) = f(j))
    }
    Model(ids, mat, titles)
  }
}
