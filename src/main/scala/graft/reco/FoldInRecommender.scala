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
  * jobs); each request is a rank × rank Breeze solve plus one
  * O(|items|·rank) scoring pass over flat arrays with a bounded top-N
  * heap (the reference's `argpartition`).
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

  /** Driver-side model state, built once by [[fromFactors]]:
    * `factors` holds the |items| × `rank` item-factor matrix row-major
    * (item `i`'s factor is `factors(i * rank until (i + 1) * rank)`),
    * and `titles(i)` is item `i`'s title ("" when unknown), both aligned
    * with `itemIds`.
    *
    * Order contract of [[recommend]]: by score descending, then filmId
    * ascending — exactly `sortBy(r => (-r.score, r.filmId))` under
    * Scala's total `Double` ordering, so a score of 0.0 ranks above
    * -0.0 and NaN scores rank last; equal keys keep model row order.
    */
  final class Model private[reco] (val itemIds: Array[Int], val rank: Int,
      val factors: Array[Double], val titles: Array[String]) {
    private val rowOf: Map[Int, Int] = itemIds.zipWithIndex.toMap

    /** The ridge solve alone: fold a seed-rating set into a rank-dim
      * user vector. Exposed separately from [[recommend]] so the §5
      * property — folding in a user's OWN training ratings with the
      * trainer's effective regularization (ALS-WR scales λ by the
      * rating count) recovers that user's trained factor — can be
      * asserted against `ALSModel.userFactors` directly (RecoSpec).
      */
    def foldInVector(seedRatings: Seq[(Int, Double)],
        reg: Double = 0.1): DenseVector[Double] =
      solve(known(seedRatings), reg)

    /** Top-N recommendations for a cold-start user's seed ratings: one
      * pass over the items keeps the best `topN` unrated ones in a
      * bounded heap, so a dropped candidate costs one dot product. */
    def recommend(seedRatings: Seq[(Int, Double)], topN: Int = 5,
        reg: Double = 0.1): Seq[Rec] = {
      val seeds = known(seedRatings)
      val u = solve(seeds, reg).data
      val rated = seeds.map(_._1).sorted
      val k = math.max(0, topN)
      val heapRow = new Array[Int](k)
      val heapScore = new Array[Double](k)
      var size = 0
      var next = 0 // first entry of `rated` not below the current row
      var i = 0
      while (i < itemIds.length) {
        while (next < rated.length && rated(next) < i) next += 1
        if (k > 0 && (next == rated.length || rated(next) != i)) {
          var s = 0.0
          var j = 0
          val base = i * rank
          while (j < rank) { s += factors(base + j) * u(j); j += 1 }
          if (size < k) {
            heapRow(size) = i; heapScore(size) = s; size += 1
            siftUp(heapRow, heapScore, size - 1)
          } else if (ranksBefore(s, i, heapScore(0), heapRow(0))) {
            heapRow(0) = i; heapScore(0) = s
            siftDown(heapRow, heapScore, size)
          }
        }
        i += 1
      }
      (0 until size)
        .sortWith((a, b) =>
          ranksBefore(heapScore(a), heapRow(a), heapScore(b), heapRow(b)))
        .map(h => Rec(itemIds(heapRow(h)), titles(heapRow(h)), heapScore(h)))
    }

    /** The seeds whose film the model knows, as (row, rating), in
      * request order (duplicates kept: each one weighs in the solve). */
    private def known(seedRatings: Seq[(Int, Double)]): Array[(Int, Double)] = {
      val seeds = seedRatings.iterator.collect {
        case (id, rating) if rowOf.contains(id) => (rowOf(id), rating)
      }.toArray
      require(seeds.nonEmpty, "Ninguna de las pelis está en el modelo")
      seeds
    }

    /** (Y_Rᵀ·Y_R + λ·I) · u = Y_Rᵀ·r, accumulated over the seed rows. */
    private def solve(seeds: Array[(Int, Double)], reg: Double)
        : DenseVector[Double] = {
      val lhs = new Array[Double](rank * rank)
      val rhs = new Array[Double](rank)
      seeds.foreach { case (row, rating) =>
        val base = row * rank
        var p = 0
        while (p < rank) {
          val yp = factors(base + p)
          rhs(p) += yp * rating
          var q = 0
          while (q < rank) { lhs(p * rank + q) += yp * factors(base + q); q += 1 }
          p += 1
        }
      }
      (0 until rank).foreach(p => lhs(p * rank + p) += reg)
      new DenseMatrix(rank, rank, lhs) \ new DenseVector(rhs)
    }

    /** Whether (score `sa`, row `ra`) ranks before (`sb`, `rb`): the
      * (-score, filmId) total order, then row order. */
    private def ranksBefore(sa: Double, ra: Int, sb: Double, rb: Int): Boolean = {
      val c = java.lang.Double.compare(-sa, -sb)
      if (c != 0) c < 0
      else if (itemIds(ra) != itemIds(rb)) itemIds(ra) < itemIds(rb)
      else ra < rb
    }

    // The heap keeps its worst-ranked entry at the root.
    private def siftUp(row: Array[Int], score: Array[Double], from: Int): Unit = {
      var c = from
      while (c > 0 && ranksBefore(score((c - 1) / 2), row((c - 1) / 2), score(c), row(c))) {
        swap(row, score, c, (c - 1) / 2)
        c = (c - 1) / 2
      }
    }

    private def siftDown(row: Array[Int], score: Array[Double], size: Int): Unit = {
      var p = 0
      var done = false
      while (!done) {
        var worst = p
        val l = 2 * p + 1
        if (l < size && ranksBefore(score(worst), row(worst), score(l), row(l))) worst = l
        if (l + 1 < size && ranksBefore(score(worst), row(worst), score(l + 1), row(l + 1)))
          worst = l + 1
        if (worst == p) done = true
        else { swap(row, score, p, worst); p = worst }
      }
    }

    private def swap(row: Array[Int], score: Array[Double], a: Int, b: Int): Unit = {
      val r = row(a); row(a) = row(b); row(b) = r
      val s = score(a); score(a) = score(b); score(b) = s
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
    val flat = new Array[Double](ids.length * rank)
    rows.zipWithIndex.foreach { case (f, i) =>
      System.arraycopy(f, 0, flat, i * rank, rank)
    }
    new Model(ids, rank, flat, ids.map(titles.getOrElse(_, "")))
  }
}
