package graftbench

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def tmpDir(): File = Files.createTempDirectory("graftbench-gen").toFile

  private def sha(path: String): String =
    MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(new File(path).toPath))
      .map("%02x".format(_)).mkString

  private def lines(path: String): Seq[String] = {
    val src = Source.fromFile(path, "ISO-8859-1")
    try src.getLines().toVector finally src.close()
  }

  private val shape = Gen.MlShape(120, 90, 4000)

  test("movieLens: the same seed writes the same bytes, another seed other bytes") {
    val (a, ta) = Gen.movieLens(tmpDir(), shape, 7L)
    val (b, tb) = Gen.movieLens(tmpDir(), shape, 7L)
    val (c, _) = Gen.movieLens(tmpDir(), shape, 8L)
    for ((x, y) <- Seq(a.movies -> b.movies, a.users -> b.users, a.ratings -> b.ratings))
      assert(sha(x) == sha(y))
    assert(ta == tb)
    assert(sha(a.ratings) != sha(c.ratings))
  }

  test("movieLens: row counts, id ranges and edge rows match the tallies") {
    val (f, t) = Gen.movieLens(tmpDir(), shape, 3L)
    val movies = lines(f.movies)
    val users = lines(f.users)
    val ratings = lines(f.ratings).map(_.split("::", -1))
    assert(movies.length == shape.movies)
    assert(users.length == shape.users)
    assert(ratings.length == t.ratingLines)
    assert(t.filmCounts.values.sum == t.ratingLines)
    assert(ratings.forall(r => r(0).toInt >= 1 && r(0).toInt <= shape.users))
    val films = ratings.map(_(1).toInt)
    assert(films.count(_ > shape.movies) == 1) // the film absent from movies.dat
    assert(ratings.count(_(2).isEmpty) == 1) // the null rating
    val pairs = ratings.filter(_(2).nonEmpty).map(r => (r(0), r(1)))
    assert(pairs.distinct.length == t.validPairs)
    assert(pairs.length == t.validPairs + 1) // one duplicated pair
    assert(ratings.filter(_(2).nonEmpty).forall(r => (1 to 5).contains(r(2).toInt)))
    // FIXTURES §1 edge rows
    assert(movies.exists(_.contains("Comedy||Drama")))
    assert(movies.exists(_.contains("Children's")))
    assert(movies.exists(_.contains("Amélie")))
    assert(users.exists(_.endsWith("::12")))
    // every user has at least 20 ratings, as in MovieLens
    assert(ratings.groupBy(_(0)).values.forall(_.length >= 20))
  }

  test("movieLens: films are Zipf-skewed") {
    val (_, t) = Gen.movieLens(tmpDir(), Gen.MlShape(300, 400, 20000), 5L)
    val sorted = t.filmCounts.values.toSeq.sorted.reverse
    val top10 = sorted.take(sorted.length / 10).sum.toDouble / sorted.sum
    assert(top10 > 0.25, s"top decile holds $top10 of the ratings")
  }

  test("feedback: deterministic, profile shares follow the bots' rates") {
    val a = Gen.feedback(11L, 110000)
    assert(a.toSeq == Gen.feedback(11L, 110000).toSeq)
    assert(a.toSeq != Gen.feedback(12L, 110000).toSeq)
    val n = a.length.toDouble
    Gen.Profiles.foreach { case (p, rate) =>
      val share = a.count(_.profile == p) / n
      val want = rate.toDouble / Gen.ReferenceRate * (1 - Gen.MalformedPerMille / 1000.0)
      assert(math.abs(share - want) < 0.01, s"$p: $share vs $want")
    }
    val malformed = a.count(_.profile == "malformed") / n
    assert(math.abs(malformed - Gen.MalformedPerMille / 1000.0) < 0.002)
    assert(a.filter(_.profile == "malformed").forall(m => m.gender.isEmpty && m.ageBin == "56+"))
    assert(a.filter(_.profile == "inserso").forall(_.ageBin == "56+"))
    // a few messages carry no age, which bins as "56+"
    assert(a.filter(_.profile == "revista")
      .forall(m => m.ageBin == "<18" || !m.json.contains("\"age\"")))
    assert(a.exists(m => m.gender.nonEmpty && !m.json.contains("\"age\"")))
  }

  test("feedback: counts tally every dimension, malformed rows only in the age bin") {
    val a = Gen.feedback(2L, 5000)
    val c = Gen.countsOf(a.iterator)
    assert(c("age").values.sum == a.length)
    assert(c("gender").values.sum == a.count(_.gender.nonEmpty))
    assert(c("occupation").values.sum == a.count(_.occupation.nonEmpty))
  }

  test("movieLens: the reference predictors order as planted") {
    val (_, t) = Gen.movieLens(tmpDir(), Gen.MlShape(300, 400, 20000), 6L)
    // noise sd 0.5 plus rounding: about sqrt(0.25 + 1/12), less where clipped
    assert(t.plantedRmse > 0.5 && t.plantedRmse < 0.6, s"${t.plantedRmse}")
    // the rank-5 part left out adds its variance, 5 * 0.45^4
    assert(t.biasRmse > t.plantedRmse + 0.08, s"${t.biasRmse} vs ${t.plantedRmse}")
    assert(t.meanRmse > t.biasRmse + 0.05, s"${t.meanRmse} vs ${t.biasRmse}")
  }

  test("movieLens: genre winners and counts follow the film tallies") {
    val (f, t) = Gen.movieLens(tmpDir(), shape, 3L)
    val genres = lines(f.movies).map(_.split("::", -1)).map(m => m(0).toInt -> m(2)).toMap
    assert(t.filmGenres(shape.movies) == Seq("Comedy", "Drama"))
    val perGenre = Gen.topPerGenre(t)
    perGenre.foreach { case (g, (film, n)) =>
      assert(genres(film).split('|').contains(g) && t.filmCounts(film) == n)
      val rivals = t.filmCounts.filter { case (x, _) => t.filmGenres.get(x).exists(_.contains(g)) }
      assert(rivals.forall { case (x, m) => m < n || (m == n && x >= film) }, g)
    }
    val won = Gen.genresWon(t, 10)
    val top = Gen.topFilms(t, 10).map(_._1).toSet
    assert(won.forall { case (film, _, _) => top(film) })
    assert(won.map(_._3).sum == Gen.topFilms(t, 10).flatMap(x => t.filmGenres(x._1)).distinct.length)
    assert(Gen.genreCounts(t).values.sum == t.filmGenres.values.map(_.length).sum)
    assert(!Gen.genreCounts(t).contains(""))
  }

  test("reco: model shape and request stream are deterministic and well formed") {
    val m = Gen.recoModel(4L)
    assert(m.ids.length == Gen.RecoItems && m.ids.distinct.length == Gen.RecoItems)
    assert(m.ids.forall(i => i >= 1 && i <= 3952))
    assert(m.factors.forall(f => f.length == Gen.RecoRank && f.forall(_ >= 0)))
    val r = Gen.recoRequests(4L, m, 5000)
    assert(r.toSeq == Gen.recoRequests(4L, m, 5000).toSeq)
    val good = r.filterNot(_.malformed)
    assert(good.forall(q => q.seeds.nonEmpty && q.seeds.length <= 51))
    val known = m.ids.toSet
    assert(good.forall(_.seeds.count { case (id, _) => !known.contains(id) } <= 1))
    assert(good.exists(_.seeds.exists(_._1 == Gen.UnknownFilmId)))
    val badShare = r.count(_.malformed).toDouble / r.length
    assert(badShare > 0.01 && badShare < 0.04, s"$badShare")
  }
}
