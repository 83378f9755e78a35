package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

/** Seeded input generators. Every generator is a pure function of its
  * seed and shape: the same arguments give the same bytes. Each one also
  * returns the tallies the benchmark checks the program's outputs
  * against, computed here without Spark.
  */
object Gen {

  /** Zipf(s) sampler over ranks 0..n-1 by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(rnd: java.util.SplittableRandom): Int = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  // ---------------------------------------------------------------- MovieLens

  val Genres: Array[String] = Array("Action", "Adventure", "Animation",
    "Children's", "Comedy", "Crime", "Documentary", "Drama", "Fantasy",
    "Film-Noir", "Horror", "Musical", "Mystery", "Romance", "Sci-Fi",
    "Thriller", "War", "Western")
  val AgeCodes: Array[Int] = Array(1, 18, 25, 35, 45, 50, 56)

  /** Shape of a MovieLens-1M-like `.dat` set. `ratings` is a target; the
    * exact count is in [[MlTallies.ratingLines]]. */
  final case class MlShape(users: Int, movies: Int, ratings: Int,
      rank: Int = 5, noiseSd: Double = 0.5)

  /** What the generator knows about the set it wrote.
    * @param filmCounts rating lines per filmId, every line counted (the
    *   ETL keeps duplicates and null ratings; analytics count them)
    * @param validPairs distinct (userId, filmId) pairs with a rating
    * @param sampleUsers distinct users among the sampled valid pairs
    * @param sampleFilms distinct films among the sampled valid pairs
    * @param sampleEdges sampled valid pairs
    * @param filmGenres each film's genres as movies.dat lists them,
    *   empty segments left out
    * @param meanRmse error of predicting every rating by their mean
    * @param biasRmse error of the planted mean plus user and film bias,
    *   the best a bias-only model can do
    * @param plantedRmse error of the whole planted score: what noise and
    *   rounding leave, which no model can remove
    */
  final case class MlTallies(ratingLines: Long, filmCounts: Map[Int, Long],
      validPairs: Long, sampleUsers: Int, sampleFilms: Int, sampleEdges: Long,
      filmGenres: Map[Int, Seq[String]], meanRmse: Double, biasRmse: Double,
      plantedRmse: Double)

  final case class MlFiles(movies: String, users: String, ratings: String)

  /** The graph step samples 1 in `GraphSampleMod` valid pairs by this
    * key, so the generator can tally the sample exactly. */
  val GraphSampleMod: Int = 20
  def graphSampleKey(userId: Int, filmId: Int): Int =
    ((userId.toLong * 7919L + filmId) % GraphSampleMod).toInt

  /** Writes movies.dat, users.dat and ratings.dat (latin-1, `::`) into
    * `dir`, with the FIXTURES §1 edge rows appended: a title with no
    * year, a genre string with an empty segment, a latin-1 accent, odd
    * zip codes, a duplicate (userId, filmId) pair, a null rating and a
    * filmId absent from movies.dat.
    *
    * Ratings follow a planted rank-`shape.rank` preference structure
    * plus Gaussian noise, rounded and clipped to 1..5; users and films
    * are Zipf-skewed.
    */
  def movieLens(dir: File, shape: MlShape, seed: Long): (MlFiles, MlTallies) = {
    dir.mkdirs()
    val rnd = new java.util.SplittableRandom(seed)
    val files = MlFiles(new File(dir, "movies.dat").getPath,
      new File(dir, "users.dat").getPath, new File(dir, "ratings.dat").getPath)
    def writer(path: String) = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path), StandardCharsets.ISO_8859_1), 1 << 16)

    // movies: ids 1..movies; the last three rows are the edge rows
    val mw = writer(files.movies)
    val genresOf = mutable.HashMap.empty[Int, Seq[String]]
    for (id <- 1 to shape.movies) {
      val nG = 1 + rnd.nextInt(3)
      val gs = (0 until nG).map(_ => Genres(rnd.nextInt(Genres.length))).distinct
      val line = id match {
        case x if x == shape.movies => s"$id::Película sin año::Comedy||Drama"
        case x if x == shape.movies - 1 => s"$id::Amélie (2001)::Comedy|Romance"
        case x if x == shape.movies - 2 => s"$id::Toy Story (1995)::Animation|Children's|Comedy"
        case _ => s"$id::Film $id (${1919 + rnd.nextInt(82)})::${gs.mkString("|")}"
      }
      genresOf(id) = line.split("::", -1)(2).split('|').toSeq.filter(_.nonEmpty)
      mw.write(line); mw.write('\n')
    }
    mw.close()

    // users: the last three rows carry the odd zip codes
    val uw = writer(files.users)
    for (id <- 1 to shape.users) {
      val zip = id match {
        case x if x == shape.users => "12"
        case x if x == shape.users - 1 => "9a8b7"
        case x if x == shape.users - 2 => "09001"
        case _ => f"${rnd.nextInt(100000)}%05d"
      }
      val g = if (rnd.nextInt(100) < 72) "M" else "F"
      uw.write(s"$id::$g::${AgeCodes(rnd.nextInt(AgeCodes.length))}::" +
        s"${rnd.nextInt(21)}::$zip\n")
    }
    uw.close()

    // planted structure: mean + user bias + film bias + u·v + noise
    val k = shape.rank
    val uf = Array.fill(shape.users * k)(rnd.nextGaussian() * 0.45)
    val vf = Array.fill(shape.movies * k)(rnd.nextGaussian() * 0.45)
    val ub = Array.fill(shape.users)(rnd.nextGaussian() * 0.3)
    val vb = Array.fill(shape.movies)(rnd.nextGaussian() * 0.3)
    // popularity rank -> filmId and activity rank -> userId, shuffled
    def perm(n: Int): Array[Int] = {
      val a = Array.tabulate(n)(_ + 1)
      for (i <- n - 1 to 1 by -1) {
        val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    // the edge-row films (last three ids) stay out of the random draw
    val films = perm(shape.movies - 3)
    val filmZipf = new Zipf(films.length, 0.9)
    // per-user rating counts: Zipf-shaped activity, at least 20 each
    // (MovieLens-1M's floor), capped at half the films
    val activity = Array.tabulate(shape.users)(i => 1.0 / math.pow(i + 1, 0.5))
    val spare = math.max(0, shape.ratings - 20 * shape.users)
    val actTotal = activity.sum
    val userOrder = perm(shape.users)
    val cap = films.length / 2

    val counts = mutable.HashMap.empty[Int, Long]
    var lines = 0L
    var valid = 0L
    val sUsers = mutable.HashSet.empty[Int]
    val sFilms = mutable.HashSet.empty[Int]
    var sEdges = 0L
    val rw = writer(files.ratings)
    val seen = new java.util.HashSet[Integer]()
    val ts0 = 956703932
    // squared errors of the reference predictors, over the drawn ratings
    var sumR, sumR2, biasSq, plantedSq = 0.0
    for (rankIdx <- 0 until shape.users) {
      val user = userOrder(rankIdx)
      val n = math.min(cap, 20 + (spare * activity(rankIdx) / actTotal).toInt)
      seen.clear()
      while (seen.size < n) {
        val film = films(filmZipf.sample(rnd))
        if (seen.add(film)) {
          var dot = 0.0
          var j = 0
          while (j < k) { dot += uf((user - 1) * k + j) * vf((film - 1) * k + j); j += 1 }
          val bias = 3.6 + ub(user - 1) + vb(film - 1)
          val score = bias + dot + rnd.nextGaussian() * shape.noiseSd
          val rating = math.max(1, math.min(5, math.round(score).toInt))
          sumR += rating; sumR2 += rating.toDouble * rating
          biasSq += (rating - bias) * (rating - bias)
          plantedSq += (rating - bias - dot) * (rating - bias - dot)
          rw.write(s"$user::$film::$rating::${ts0 + rnd.nextInt(90000000)}\n")
          lines += 1; valid += 1
          counts(film) = counts.getOrElse(film, 0L) + 1
          if (graphSampleKey(user, film) == 0) {
            sUsers += user; sFilms += film; sEdges += 1
          }
        }
      }
    }
    // edge rows: a duplicate pair with the same rating as a fresh pair,
    // a null rating, and a film absent from movies.dat
    val edgeFilm = shape.movies - 2
    val edgeUser = userOrder(0)
    Seq(s"$edgeUser::$edgeFilm::4::978300760", s"$edgeUser::$edgeFilm::4::978300761",
      s"$edgeUser::${shape.movies - 1}::::978300762",
      s"$edgeUser::${shape.movies + 7}::3::978300763").foreach { l =>
      rw.write(l); rw.write('\n')
    }
    rw.close()
    lines += 4
    valid += 2 // the duplicated pair once, the absent film once
    counts(edgeFilm) = counts.getOrElse(edgeFilm, 0L) + 2
    counts(shape.movies - 1) = counts.getOrElse(shape.movies - 1, 0L) + 1
    counts(shape.movies + 7) = 1L
    Seq((edgeUser, edgeFilm), (edgeUser, shape.movies + 7)).foreach {
      case (u, f) => if (graphSampleKey(u, f) == 0) {
        sUsers += u; sFilms += f; sEdges += 1
      }
    }
    val drawn = (valid - 2).toDouble
    val mean = sumR / drawn
    (files, MlTallies(lines, counts.toMap, valid, sUsers.size, sFilms.size,
      sEdges, genresOf.toMap, math.sqrt(sumR2 / drawn - mean * mean),
      math.sqrt(biasSq / drawn), math.sqrt(plantedSq / drawn)))
  }

  /** The generator's top films: (filmId, count) by count desc, filmId asc. */
  def topFilms(t: MlTallies, n: Int): Seq[(Int, Long)] =
    t.filmCounts.toSeq.sortBy { case (f, c) => (-c, f) }.take(n)

  /** Each genre's most-rated film among `films` (in the order of
    * [[topFilms]]): genre -> (filmId, count). */
  private def winners(t: MlTallies, films: Seq[(Int, Long)]): Map[String, (Int, Long)] =
    films.sortBy { case (f, c) => (-c, f) }.reverseIterator.flatMap { case (f, c) =>
      t.filmGenres.getOrElse(f, Nil).map(_ -> (f, c))
    }.toMap

  /** `topPerGenre`: each genre's most-rated film over all rated films. */
  def topPerGenre(t: MlTallies): Map[String, (Int, Long)] =
    winners(t, t.filmCounts.toSeq)

  /** `genresWon`: each film that wins a genre among the top `limit`
    * films, as (filmId, count, genres won), by genres won desc, count
    * desc, filmId asc. */
  def genresWon(t: MlTallies, limit: Int): Seq[(Int, Long, Long)] =
    winners(t, topFilms(t, limit)).values.groupBy(identity).toSeq
      .map { case ((f, c), ws) => (f, c, ws.size.toLong) }
      .sortBy { case (f, c, n) => (-n, -c, f) }

  /** `genreCounts`: films per genre over movies.dat. */
  def genreCounts(t: MlTallies): Map[String, Long] =
    t.filmGenres.values.flatten.groupBy(identity).map { case (g, gs) => g -> gs.size.toLong }

  // ---------------------------------------------------------------- feedback

  /** The reference's five bots and their send rates (msg/s). */
  val Profiles: Seq[(String, Int)] = Seq("random" -> 100, "random50" -> 50,
    "revista" -> 250, "inserso" -> 500, "masculino" -> 200)
  val ReferenceRate: Int = Profiles.map(_._2).sum // 1,100 msg/s

  /** Share of messages that are not valid JSON (per mille). */
  val MalformedPerMille: Int = 5

  final case class Feedback(json: String, gender: Option[String],
      occupation: Option[String], ageBin: String, profile: String)

  /** `app3/live_counts.py`'s 7-way binning, with the engine's reading
    * of a null age (the `otherwise` branch, "56+"). */
  def ageBin(age: Option[Int]): String = age match {
    case Some(a) if a < 18 => "<18"
    case Some(a) if a <= 24 => "18-24"
    case Some(a) if a <= 34 => "25-34"
    case Some(a) if a <= 44 => "35-44"
    case Some(a) if a <= 49 => "45-49"
    case Some(a) if a <= 55 => "50-55"
    case _ => "56+"
  }

  private val Occupations = graft.etl.MovieLens.occupationMap.values.toArray.sorted
  private val profileCdf: Array[Int] =
    Profiles.map(_._2).scanLeft(0)(_ + _).tail.toArray

  /** `n` feedback messages mixing the five bot profiles in their
    * reference proportions, plus a few malformed payloads and a few
    * with no age. */
  def feedback(seed: Long, n: Int): Array[Feedback] = {
    val rnd = new java.util.SplittableRandom(seed)
    Array.fill(n) {
      if (rnd.nextInt(1000) < MalformedPerMille) {
        Feedback("""{"gender": "Mujer", "age": 3""", None, None, "56+", "malformed")
      } else {
        val p = rnd.nextInt(ReferenceRate)
        val profile = Profiles(profileCdf.indexWhere(p < _))._1
        val (gender, occ, age) = profile match {
          case "inserso" => ("Mujer", "Jubilado", 66 + rnd.nextInt(25))
          case "revista" => ("Mujer", "Estudiante", 10 + rnd.nextInt(7))
          case "masculino" => ("Hombre", "Programador", 25 + rnd.nextInt(16))
          case _ => (if (rnd.nextBoolean()) "Hombre" else "Mujer",
            Occupations(rnd.nextInt(Occupations.length)), 10 + rnd.nextInt(81))
        }
        val ageOpt = if (rnd.nextInt(200) == 0) None else Some(age)
        val ratings = (1 to 5).map(_ =>
          s"""{"filmId": ${1 + rnd.nextInt(5)}, "rating": ${1 + rnd.nextInt(5)}}""")
          .mkString("[", ", ", "]")
        val ageField = ageOpt.fold("")(a => s""", "age": $a""")
        Feedback(s"""{"gender": "$gender", "occupation": "$occ"$ageField, "ratings": $ratings}""",
          Some(gender), Some(occ), ageBin(ageOpt), profile)
      }
    }
  }

  /** The dashboard's expected `/counts`: per dimension, value -> count,
    * null values left out. */
  def countsOf(msgs: Iterator[Feedback]): Map[String, Map[String, Long]] = {
    val g = mutable.HashMap.empty[String, Long]
    val o = mutable.HashMap.empty[String, Long]
    val a = mutable.HashMap.empty[String, Long]
    msgs.foreach { m =>
      m.gender.foreach(x => g(x) = g.getOrElse(x, 0L) + 1)
      m.occupation.foreach(x => o(x) = o.getOrElse(x, 0L) + 1)
      a(m.ageBin) = a.getOrElse(m.ageBin, 0L) + 1
    }
    Map("gender" -> g.toMap, "occupation" -> o.toMap, "age" -> a.toMap)
  }

  // ---------------------------------------------------------------- reco

  /** Item-factor model of MovieLens-1M's shape: 3,706 rated items. */
  val RecoItems: Int = 3706
  val RecoRank: Int = 20

  final case class RecoModel(ids: Array[Int], factors: Array[Array[Double]],
      titles: Map[Int, String])

  /** Seeded non-negative factors (ALS runs with nonnegative = true) for
    * `items` ids drawn from 1..3952, MovieLens-1M's id range. */
  def recoModel(seed: Long, items: Int = RecoItems, rank: Int = RecoRank): RecoModel = {
    val rnd = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
    val ids = {
      val a = Array.tabulate(3952)(_ + 1)
      for (i <- a.length - 1 to 1 by -1) {
        val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a.take(items).sorted
    }
    val f = Array.fill(items)(Array.fill(rank)(math.abs(rnd.nextGaussian()) * 0.35))
    RecoModel(ids, f, ids.map(i => i -> s"Film $i").toMap)
  }

  /** A recommend request: the JSON body, the parsed seed ratings when
    * the body is well formed, and whether it must be refused (400). */
  final case class RecoRequest(body: String, seeds: Seq[(Int, Double)],
      malformed: Boolean)

  val UnknownFilmId: Int = 99991

  /** Requests with 1–50 seed ratings over Zipf-popular films; about 2%
    * add an id the model does not know, about 2% are malformed. */
  def recoRequests(seed: Long, model: RecoModel, n: Int): Array[RecoRequest] = {
    val rnd = new java.util.SplittableRandom(seed ^ 0x2545F491L)
    val zipf = new Zipf(model.ids.length, 0.9)
    val bad = Array("""{"ratings": []}""", """{"notas": [{"filmId": 1, "rating": 5}]}""",
      """{"ratings": [{"filmId": 1, "rating": 5}""", "ratings=1",
      s"""{"ratings": [{"filmId": $UnknownFilmId, "rating": 4}]}""")
    Array.fill(n) {
      if (rnd.nextInt(50) == 0) RecoRequest(bad(rnd.nextInt(bad.length)), Nil, true)
      else {
        val k = 1 + math.min(49, (math.abs(rnd.nextGaussian()) * 12).toInt)
        val picked = mutable.LinkedHashSet.empty[Int]
        while (picked.size < k) picked += model.ids(zipf.sample(rnd))
        val seeds = picked.toSeq.map(id => id -> (1 + rnd.nextInt(5)).toDouble)
        val withUnknown =
          if (rnd.nextInt(50) == 0) seeds :+ (UnknownFilmId -> 3.0) else seeds
        val body = withUnknown.map { case (id, r) =>
          s"""{"filmId": $id, "rating": ${r.toInt}}""" }.mkString("""{"ratings": [""", ", ", "]}")
        RecoRequest(body, withUnknown, false)
      }
    }
  }
}
