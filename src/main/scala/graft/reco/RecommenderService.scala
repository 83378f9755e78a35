package graft.reco

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.core.HttpShim
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}

/** HTTP serving shim around [[FoldInRecommender]] — SURVEY §7.1 item 5,
  * reference `app4/recommender.py:55-95`: `POST /recommend` with
  * `{"ratings":[{"filmId":i,"rating":r},...]}` answers
  * `{"recommendations":[{"filmId","title","score"},...]}`; malformed
  * payloads get 400 with the error text (naming the bad field), other
  * paths 404. `filmId` must be a JSON integer and `rating` a finite JSON
  * number.
  *
  * Serving discipline per C10: the model lives on the driver, a request
  * is O(|items|·rank) driver math, and NO Spark job runs in the request
  * path — the optional `spark` only mirrors the reference's
  * `last_request_ratings` temp-view registration (`recommender.py:74`),
  * built straight from a local relation (no encoder, nothing planned).
  * Requests are handled concurrently on [[HttpShim]]'s pool; the view
  * holds whichever request registered last.
  */
object RecommenderService {

  type Handle = HttpShim.Handle

  private val RatingsSchema = StructType(Seq(
    StructField("filmId", IntegerType, nullable = false),
    StructField("rating", DoubleType, nullable = false)))

  def start(model: FoldInRecommender.Model, port: Int = 0, topN: Int = 5,
      reg: Double = 0.1, spark: Option[SparkSession] = None): Handle = {
    val mapper = new ObjectMapper()
    HttpShim.start("recommend", port, HttpShim.Route("POST", "/recommend", { ex =>
      try {
        val seeds = parseSeeds(mapper.readTree(ex.getRequestBody))
        spark.foreach(DatasetBridge.registerLocalView(_, "last_request_ratings",
          RatingsSchema, seeds.map { case (id, r) => InternalRow(id, r) }))
        val recs = model.recommend(seeds, topN, reg)
        val out = mapper.createObjectNode()
        val arr = out.putArray("recommendations")
        recs.foreach { r =>
          val o = arr.addObject()
          o.put("filmId", r.filmId)
          o.put("title", r.title)
          o.put("score", r.score)
        }
        HttpShim.respond(ex, 200, "application/json", mapper.writeValueAsBytes(out))
      } catch {
        case e: Exception => HttpShim.error(ex, 400, e)
      }
    }))
  }

  /** The request's (filmId, rating) pairs; throws naming the first bad
    * field. Integer ratings are numbers too. */
  private def parseSeeds(root: JsonNode): Seq[(Int, Double)] = {
    val ratings = root.path("ratings")
    if (!ratings.isArray || ratings.size == 0)
      throw new IllegalArgumentException("Faltan ratings")
    (0 until ratings.size).map { i =>
      def field(name: String, ok: JsonNode => Boolean, what: String): JsonNode = {
        val v = ratings.get(i).get(name)
        if (v == null || !ok(v))
          throw new IllegalArgumentException(s"ratings[$i].$name must be $what")
        v
      }
      (field("filmId", v => v.isIntegralNumber && v.canConvertToInt, "an integer").intValue,
        field("rating", v => v.isNumber && java.lang.Double.isFinite(v.doubleValue),
          "a finite number").doubleValue)
    }
  }
}
