package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** MovieLens ETL — the reference's batch pipeline re-expressed natively.
  *
  * Reference: `Explorativa/Explorativa1_pyspark.ipynb` (cells 2-8).
  * Schemas per SURVEY.md §1.4; fixture shapes per FIXTURES.md §1.
  */
object MovieLens {

  val moviesSchema: StructType = StructType(Seq(
    StructField("filmId", IntegerType),
    StructField("film", StringType),
    StructField("genders", StringType)))

  val usersSchema: StructType = StructType(Seq(
    StructField("userId", IntegerType),
    StructField("gender", StringType),
    StructField("age", IntegerType),
    StructField("occupation", IntegerType),
    StructField("zip", StringType)))

  val ratingsSchema: StructType = StructType(Seq(
    StructField("userId", IntegerType),
    StructField("filmId", IntegerType),
    StructField("rating", IntegerType),
    StructField("timestamp", IntegerType)))

  /** `::`-separated `.dat` reader (no header, latin-1 titles).
    * Reference: `Explorativa1_pyspark.ipynb:59,183,328`.
    *
    * Spark's CSV reader decodes per-line input as UTF-8 regardless of the
    * `encoding` option (verified on 4.1.2), which mangles the latin-1
    * titles — so this is the SURVEY §7.4 fallback: a Hadoop text scan
    * (line-splittable, so it parallelizes across blocks like any CSV
    * scan) decoded with the right charset, then a codegen'd `split` +
    * per-field cast. Only the charset decode runs outside codegen.
    */
  def readDat(spark: SparkSession, path: String, schema: StructType,
      charset: String = "ISO-8859-1"): DataFrame = {
    import org.apache.hadoop.io.{LongWritable, Text}
    import org.apache.hadoop.mapred.TextInputFormat
    import spark.implicits._
    val csName = charset // Charset itself is not serializable
    val lines = spark.sparkContext
      .hadoopFile[LongWritable, Text, TextInputFormat](path)
      .map { case (_, t) =>
        new String(t.getBytes, 0, t.getLength,
          java.nio.charset.Charset.forName(csName))
      }
    // try_element_at + try_cast: a short/blank line yields null fields
    // (the reference's PERMISSIVE behavior) — plain element_at would
    // throw INVALID_ARRAY_INDEX under ANSI mode, and try_cast alone
    // only guards the cast, not the array access.
    val fields = schema.fields.zipWithIndex.map { case (f, i) =>
      expr(s"try_cast(try_element_at(split(line, '::'), ${i + 1}) " +
        s"as ${f.dataType.sql})").as(f.name)
    }
    lines.toDF("line").select(fields: _*)
  }

  /** Movies cleaning — year extraction, title strip, genre split, HOF
    * empty-string filter. Reference: `Explorativa1_pyspark.ipynb:91-94`.
    * Pure codegen'd projection.
    */
  def cleanMovies(movies: DataFrame): DataFrame =
    movies
      .withColumn("year",
        // no-year titles extract '' -> null (try_cast dodges ANSI error)
        expr("try_cast(regexp_extract(film, '\\\\((\\\\d{4})\\\\)', 1) as int)"))
      .withColumn("film", regexp_replace(col("film"), "\\s*\\(\\d{4}\\)$", ""))
      .withColumn("genders", split(col("genders"), "\\|"))
      .withColumn("genders", expr("filter(genders, x -> x <> '')"))

  /** Occupation code → Spanish label (21 entries).
    * The reference has TWO vocabularies (SURVEY §7.4 item 8): the
    * PySpark notebook's map (`Explorativa1_pyspark.ipynb:214-224`) is
    * accent-free, but the artifact of record — the persisted
    * `datasets/Transformados/users_mod.parquet` consumed by every
    * downstream notebook — carries ACCENTED labels (written by the
    * pandas twin, `Explorativa1_pandas.ipynb` cell 20). We match the
    * persisted dataset: parity verified row-for-row against that
    * parquet over all 6,040 users.
    */
  val occupationMap: Map[Int, String] = Map(
    0 -> "Otro / No especificado", 1 -> "Académico / Educador",
    2 -> "Artista", 3 -> "Administrativo / Oficina",
    4 -> "Estudiante universitario / Postgrado", 5 -> "Atención al cliente",
    6 -> "Médico / Sector salud", 7 -> "Ejecutivo / Gerente",
    8 -> "Agricultor", 9 -> "Amo/a de casa",
    10 -> "Estudiante (Escuela/Instituto)", 11 -> "Abogado",
    12 -> "Programador", 13 -> "Jubilado", 14 -> "Ventas / Marketing",
    15 -> "Científico", 16 -> "Autónomo", 17 -> "Técnico / Ingeniero",
    18 -> "Artesano / Oficio manual", 19 -> "Desempleado", 20 -> "Escritor")

  /** MovieLens age code → (group mean, letter).
    * Reference: `Explorativa1_pyspark.ipynb:226-233`. */
  val ageGroups: Map[Int, (Int, String)] = Map(
    1 -> (17, "A"), 18 -> (21, "B"), 25 -> (30, "C"), 35 -> (40, "D"),
    45 -> (47, "E"), 50 -> (52, "F"), 56 -> (60, "G"))

  /** 3-digit zip prefix → US state ranges (inclusive).
    * Reference: `Explorativa1_pyspark.ipynb:234-251`. */
  val zipStateRanges: Seq[(Int, Int, String)] = Seq(
    (350, 369, "AL"), (995, 999, "AK"), (850, 865, "AZ"), (716, 729, "AR"),
    (900, 961, "CA"), (800, 816, "CO"), (60, 69, "CT"), (197, 199, "DE"),
    (200, 200, "DC"), (202, 205, "DC"), (569, 569, "DC"), (320, 349, "FL"),
    (300, 319, "GA"), (967, 968, "HI"), (832, 838, "ID"), (600, 629, "IL"),
    (460, 479, "IN"), (500, 528, "IA"), (660, 679, "KS"), (400, 427, "KY"),
    (700, 715, "LA"), (39, 49, "ME"), (206, 219, "MD"), (10, 27, "MA"),
    (480, 499, "MI"), (550, 567, "MN"), (386, 397, "MS"), (630, 658, "MO"),
    (590, 599, "MT"), (680, 693, "NE"), (889, 898, "NV"), (30, 38, "NH"),
    (70, 89, "NJ"), (870, 884, "NM"), (100, 149, "NY"), (270, 289, "NC"),
    (580, 588, "ND"), (430, 459, "OH"), (730, 749, "OK"), (970, 979, "OR"),
    (150, 196, "PA"), (28, 29, "RI"), (290, 299, "SC"), (570, 577, "SD"),
    (370, 385, "TN"), (750, 799, "TX"), (885, 885, "TX"), (840, 847, "UT"),
    (50, 59, "VT"), (201, 201, "VA"), (220, 246, "VA"), (980, 994, "WA"),
    (247, 268, "WV"), (530, 549, "WI"), (820, 831, "WY"), (6, 9, "PR"),
    (8, 8, "VI"), (969, 969, "GU"))

  /** First-match-equivalent DISJOINT ranges for the join. The
    * reference UDF linear-scans `zipStateRanges` and returns the FIRST
    * match; the list contains one true overlap — (6,9,PR) shadows
    * (8,8,VI) — so a naive range JOIN would emit TWO rows for a
    * prefix-008 zip (row explosion + a state the reference never
    * returns). Subtracting every earlier range from each range makes
    * the dim disjoint: the join matches at most once and agrees with
    * the linear scan on every input (pinned by the zip_to_state
    * property test).
    */
  val zipStateRangesDisjoint: Seq[(Int, Int, String)] = {
    val covered = new Array[Boolean](1000)
    zipStateRanges.flatMap { case (lo, hi, st) =>
      val segs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
      var i = lo
      while (i <= hi) {
        if (!covered(i)) {
          var j = i
          while (j <= hi && !covered(j)) { covered(j) = true; j += 1 }
          segs += ((i, j - 1, st))
          i = j
        } else i += 1
      }
      segs
    }
  }

  /** Users enrichment. The reference's ONLY Python UDF (`zip_to_state`,
    * `Explorativa1_pyspark.ipynb:266-280`) is replaced by native
    * expressions + a broadcast range join against the 58-row ranges dim
    * (SURVEY §2.9 UD1 option (a)): digit-strip and 3-digit prefix are
    * codegen'd; the broadcast range lookup plans as
    * [[graft.plans.IntervalJoin]] over the 58 ranges (a null prefix
    * keeps its row, with no state) — no row round-trips through a
    * Python worker.
    * Occupation map and age groups: `Explorativa1_pyspark.ipynb:251-265`.
    */
  def enrichUsers(spark: SparkSession, users: DataFrame): DataFrame = {
    import spark.implicits._
    val occExpr = map(occupationMap.toSeq.sortBy(_._1).flatMap {
      case (k, v) => Seq(lit(k), lit(v)) }: _*)
    val (meanExpr, letterExpr) = {
      val codes = ageGroups.toSeq.sortBy(_._1)
      val m = codes.foldLeft(lit(null).cast(IntegerType): org.apache.spark.sql.Column) {
        case (acc, (code, (mean, _))) =>
          when(col("age") === code, mean).otherwise(acc)
      }
      val l = codes.foldLeft(lit(null).cast(StringType): org.apache.spark.sql.Column) {
        case (acc, (code, (_, letter))) =>
          when(col("age") === code, letter).otherwise(acc)
      }
      (m, l)
    }
    val ranges = broadcast(zipStateRangesDisjoint.toDF("lo", "hi", "state"))
    val withPrefix = users
      .withColumn("zip_digits", regexp_replace(col("zip"), "[^0-9]", ""))
      .withColumn("zip_prefix",
        when(length(col("zip_digits")) >= 3,
          substring(col("zip_digits"), 1, 3).cast(IntegerType)))
    withPrefix
      .join(ranges,
        withPrefix("zip_prefix") >= ranges("lo") &&
          withPrefix("zip_prefix") <= ranges("hi"), "left")
      .withColumn("occupation", element_at(occExpr, col("occupation")))
      .withColumn("age_group_mean", meanExpr)
      .withColumn("age_group_letter", letterExpr)
      .withColumn("state", coalesce(col("state"), lit("Other")))
      .drop("age", "zip", "zip_digits", "zip_prefix", "lo", "hi")
  }

  /** Epoch seconds → `dd/MM/yyyy` STRING (kept as string to match the
    * reference's semantics). Reference: `Explorativa1_pyspark.ipynb:360`.
    */
  def dateRatings(ratings: DataFrame): DataFrame =
    ratings
      .withColumn("date",
        date_format(from_unixtime(col("timestamp")), "dd/MM/yyyy"))
      .drop("timestamp")

  /** ratings ⟕ movies ⟕ movies users — both dims broadcast (3.9K / 6K
    * rows vs a fact that is 1M in MovieLens and unbounded at scale).
    * Reference: `Explorativa1_pyspark.ipynb:363-364`.
    */
  def joinFull(ratings: DataFrame, movies: DataFrame, users: DataFrame)
      : DataFrame =
    ratings
      .join(broadcast(movies), Seq("filmId"), "left")
      .join(broadcast(users), Seq("userId"), "left")

  /** Full pipeline from raw `.dat` paths to the joined table. */
  def buildRatingsFull(spark: SparkSession, moviesPath: String,
      usersPath: String, ratingsPath: String): DataFrame = {
    val movies = cleanMovies(readDat(spark, moviesPath, moviesSchema))
    val users = enrichUsers(spark, readDat(spark, usersPath, usersSchema))
    val ratings = dateRatings(readDat(spark, ratingsPath, ratingsSchema))
    joinFull(ratings, movies, users)
  }
}
