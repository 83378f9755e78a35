package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Generative differential tests (SURVEY §5 plan): ScalaCheck
  * generators drive each engine path against an INDEPENDENT
  * driver-side reference implementation. Each test evaluates one
  * Spark job over the whole generated batch (a job per sample would
  * take minutes).
  */
class PropertySpec extends SparkSuite {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(seed + i)))

  // ---- zip_to_state: native-expression join vs the reference UDF ----

  /** Direct transcription of the reference's Python UDF
    * (`Explorativa1_pyspark.ipynb:267-278`) + the fillna('Other'). */
  private def zipToStateRef(zip: String): String = {
    if (zip == null) return "Other"
    val digits = zip.filter(_.isDigit)
    if (digits.length < 3) return "Other"
    val prefix = digits.take(3).toInt
    graft.etl.MovieLens.zipStateRanges
      .collectFirst { case (lo, hi, st) if lo <= prefix && prefix <= hi => st }
      .getOrElse("Other")
  }

  test("zip_to_state join == reference linear scan on generated zips") {
    val zipGen = Gen.oneOf(
      Gen.listOfN(5, Gen.numChar).map(_.mkString),          // normal
      Gen.listOfN(5, Gen.oneOf(Gen.numChar, Gen.alphaChar)) // mixed
        .map(_.mkString),
      Gen.choose(0, 2).flatMap(n =>
        Gen.listOfN(n, Gen.numChar).map(_.mkString)),       // too short
      Gen.const("008" + "41"),                              // PR/VI overlap
      Gen.choose(0, 999).map(p => f"$p%03d" + "17"))        // every prefix
    val zips = samples(zipGen, 600, 42L)
    val users = zips.zipWithIndex
      .map { case (z, i) => (i, "M", 25, 1, z) }
      .toDF("userId", "gender", "age", "occupation", "zip")
    val got = graft.etl.MovieLens.enrichUsers(spark, users)
      .select("userId", "state").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got.size == zips.size, "range join duplicated or dropped rows")
    zips.zipWithIndex.foreach { case (z, i) =>
      assert(got(i) == zipToStateRef(z),
        s"zip '$z': join=${got(i)} reference=${zipToStateRef(z)}")
    }
  }

  // ---- rolling_hash: codegen'd expression vs driver fold ----

  test("rolling_hash expression == independent driver fold") {
    val strGen = Gen.oneOf(
      Gen.asciiPrintableStr,
      Gen.listOf(Gen.oneOf("a", "é", "ß", "中", "🙂", " "))
        .map(_.mkString)) // incl. a surrogate-pair code point
    val strs = samples(strGen, 200, 7L)
    def ref(s: String): Long = {
      var h = 0L; var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        h = (h * 31L + cp) % 1000000007L
        i += Character.charCount(cp)
      }
      h
    }
    val got = strs.toDF("s")
      .select(graft.functions.RollingHash.rollingHash(col("s")))
      .collect().map(_.getLong(0))
    strs.zip(got).foreach { case (s, h) =>
      assert(h == ref(s), s"hash mismatch for ${s.take(30)}")
    }
  }

  // ---- fold-in: behavioral invariances through the public API ----

  test("fold-in ranking is invariant to rating order and positive scale") {
    val rank = 6
    val caseGen = for {
      nItems <- Gen.choose(20, 60)
      cells <- Gen.listOfN(nItems * rank, Gen.choose(-1.0, 1.0))
      nSeed <- Gen.choose(2, 8)
      seedIds <- Gen.pick(nSeed, 0 until nItems)
      ratings <- Gen.listOfN(nSeed, Gen.choose(1.0, 5.0))
      scale <- Gen.choose(1.1, 3.0)
      topN <- Gen.choose(0, 70)
    } yield (nItems, cells, seedIds.toSeq, ratings, scale, topN)
    samples(caseGen, 25, 99L).foreach {
      case (nItems, cells, seedIds, ratings, scale, topN) =>
        val rows = cells.grouped(rank).map(_.toArray).toArray
        val m = graft.reco.FoldInRecommender.fromFactors(
          (0 until nItems).toArray, rows,
          (0 until nItems).map(i => i -> s"t$i").toMap)
        val seed = seedIds.zip(ratings)
        val base = m.recommend(seed, topN = 5).map(_.filmId)
        // permutation invariance (the reference BUG we fixed: it
        // mis-paired ratings when the request order changed)
        assert(m.recommend(seed.reverse, topN = 5).map(_.filmId) == base)
        // positive scaling: u solves a LINEAR system, so scores scale
        // by c > 0 and the ranking is unchanged
        val scaled = seed.map { case (id, r) => (id, r * scale) }
        assert(m.recommend(scaled, topN = 5).map(_.filmId) == base)
        // the bounded top-N equals sort-take-n over the full score
        // vector, also with rows paired up (exact score ties) under ids
        // that descend with the row, so the filmId tie-break is not
        // row order
        val paired = rows.indices.map(i => rows(i / 2 * 2)).toArray
        val tied = graft.reco.FoldInRecommender.fromFactors(
          (0 until nItems).reverse.toArray, paired, Map())
        Seq(m -> rows, tied -> paired).foreach { case (model, ys) =>
          val u = model.foldInVector(seed)
          val scores = ys.map(y => y.indices.foldLeft(0.0)((s, j) => s + y(j) * u(j)))
          val ids = model.itemIds
          val want = ids.indices.filterNot(i => seedIds.contains(ids(i)))
            .map(i => (ids(i), scores(i)))
            .sortBy { case (id, s) => (-s, id) }.take(topN)
          assert(model.recommend(seed, topN).map(r => (r.filmId, r.score)) == want,
            s"topN $topN over $nItems items")
        }
    }
  }

  // ---- topk_ids aggregate vs reference sort ----

  test("topk_ids == sort-take-k reference on generated groups") {
    val rowGen = for {
      g <- Gen.choose(0, 4)
      score <- Gen.choose(0.0, 100.0)
      id <- Gen.choose(0L, 500L)
    } yield (g, score, id)
    val rows = samples(rowGen, 400, 17L)
    val got = rows.toDF("g", "score", "id").repartition(8)
      .groupBy("g")
      .agg(graft.functions.TopKByScore.topkIds(col("score"), col("id"), 4)
        .as("top"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    // exact multiset semantics: sort ALL pairs by (-score, id), take 4
    // (duplicate identical pairs each occupy a slot, like the heap)
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val want = rs.map(t => (t._2, t._3))
        .sortBy { case (s, i) => (-s, i) }.map(_._2).take(4)
      assert(got(g) == want, s"group $g: got ${got(g)}, want $want")
    }
  }
}
