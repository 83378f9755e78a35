package graft.sources

import graft.SparkSuite
import graft.etl.MovieLens
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import scala.jdk.CollectionConverters._

/** The custom DataSource V2 must (a) parse byte-for-byte what the
  * Hadoop-text fallback parses — including latin-1 titles, (b) keep
  * row ownership exact across byte-range splits, and (c) actually
  * prune and push down (asserted on the planned scan, not trusted).
  *
  * The inputs are generated here, row by row from the index, in the
  * shapes of FIXTURES.md §1 (`users_raw`, `movies_raw`): `::`-separated,
  * ISO-8859-1, `\n` line ends, sized like MovieLens-1M.
  */
class DatSourceSpec extends SparkSuite with BeforeAndAfterAll {

  private val dir = Files.createTempDirectory("dat_source_fixture")

  private def writeDat(name: String, lines: Seq[String]): String = {
    val p = dir.resolve(name)
    Files.write(p, lines.map(_ + "\n").mkString
      .getBytes(StandardCharsets.ISO_8859_1))
    p.toString
  }

  private val ageCodes = Seq(1, 18, 25, 35, 45, 50, 56)

  /** 6,040 users, as in the real file: every age code, every
    * occupation, zips with leading zeros, ZIP+4, military and
    * malformed zips. */
  private val usersDat = writeDat("users.dat", (1 to 6040).map { i =>
    val zip5 = f"${i * 7919 % 100000}%05d"
    val zip =
      if (i % 500 == 0) "09001"
      else if (i % 331 == 0) s"${i % 100}"
      else if (i % 277 == 0) s"x$zip5"
      else if (i % 10 == 0) f"$zip5-${i % 10000}%04d"
      else zip5
    s"$i::${if (i % 3 == 0) "F" else "M"}::${ageCodes(i % 7)}::${i % 21}::$zip"
  })

  private val genres = Seq("Action", "Adventure", "Animation",
    "Children's", "Comedy", "Crime", "Drama", "Fantasy", "Musical",
    "Romance", "Thriller")

  private val accented = Seq("Amélie (2001)",
    "Cité des enfants perdus, La (1995)", "Señorita Extraviada (2001)",
    "Fête du cinéma, La (1998)", "Smörgåsbord (1983)")

  /** 3,883 movies: id 73 is the real file's line, every 40th title
    * is accented latin-1, and some rows have no year or an empty
    * genre segment. */
  private val moviesDat = writeDat("movies.dat", (1 to 3883).map { i =>
    val title =
      if (i % 40 == 0) accented(i / 40 % accented.size)
      else if (i % 97 == 0) s"Film $i"
      else s"Film $i (${1919 + i % 81})"
    val genders =
      if (i % 89 == 0) "Comedy||Drama"
      else Seq(genres(i % genres.size), genres(i * 7 % genres.size))
        .distinct.mkString("|")
    if (i == 73) "73::Misérables, Les (1995)::Drama|Musical"
    else s"$i::$title::$genders"
  })

  override def afterAll(): Unit =
    try FileUtils.deleteDirectory(dir.toFile)
    finally super.afterAll()

  /** The reference checkout's MovieLens-1M originals; the parity case
    * also runs over them wherever they exist. */
  private val fullDataDir = "/root/reference/datasets/Originales"

  private val userSchema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("gender", StringType),
    StructField("age", IntegerType),
    StructField("occupation", IntegerType),
    StructField("zip", StringType)))

  private val movieSchema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("film", StringType),
    StructField("genders", StringType)))

  private def viaV2(path: String, schema: StructType,
      splitBytes: Long = 32L * 1024 * 1024): DataFrame =
    spark.read.format("graftdat").schema(schema)
      .option("splitbytes", splitBytes.toString).load(path)

  private def datScan(df: DataFrame): DatScan =
    df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }.head.asInstanceOf[DatScan]

  test("v2 source matches the Hadoop-text reader row-for-row (latin-1)") {
    val fullData = Seq((s"$fullDataDir/users.dat", userSchema),
      (s"$fullDataDir/movies.dat", movieSchema))
      .filter { case (path, _) => Files.exists(Paths.get(path)) }
    for ((path, schema) <-
        Seq((usersDat, userSchema), (moviesDat, movieSchema)) ++ fullData) {
      val legacy = MovieLens.readDat(spark, path, schema)
      val v2 = viaV2(path, schema)
      assert(v2.count() == legacy.count())
      assert(v2.exceptAll(legacy).isEmpty && legacy.exceptAll(v2).isEmpty,
        s"row mismatch for $path")
    }
    // the latin-1 payload specifically: accented titles decode right
    // (id 73 = "Misérables, Les (1995)" in movies.dat)
    val title = viaV2(moviesDat, movieSchema)
      .filter(col("id") === 73).select("film").collect()(0).getString(0)
    assert(title.contains("Misérables"), s"latin-1 decode broke: $title")
  }

  test("byte-range splits neither drop nor duplicate boundary lines") {
    val one = viaV2(usersDat, userSchema).collect().map(_.toString).sorted
    // 64 KB floor → the generated ~134 KB users.dat fans out into 3 splits
    require(Files.size(Paths.get(usersDat)) > 128 * 1024,
      "users.dat fixture too small for 3 byte-range splits")
    val many = viaV2(usersDat, userSchema, splitBytes = 1)
    assert(many.rdd.getNumPartitions >= 2, "expected multiple splits")
    assert(many.collect().map(_.toString).sorted.toSeq == one.toSeq)
  }

  test("column pruning reaches the scan") {
    val df = viaV2(usersDat, userSchema).select("age")
    assert(datScan(df).readSchema().fieldNames.toSeq == Seq("age"))
  }

  test("supported filters are pushed and removed from the post-scan plan") {
    val df = viaV2(usersDat, userSchema).filter(col("age") > 25)
    val scan = datScan(df)
    assert(scan.description().contains("GreaterThan(age,25)"),
      s"not pushed: ${scan.description()}")
    val residualFilters = df.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }
    assert(residualFilters.isEmpty,
      "fully-pushed predicate still evaluated post-scan")
    // and the result is right
    val expected = MovieLens.readDat(spark, usersDat, userSchema)
      .filter(col("age") > 25).count()
    assert(df.count() == expected)
  }

  test("unsupported filters fall back to Spark evaluation, results equal") {
    val pred = col("zip").endsWith("1") // EndsWith is not pushable here
    val df = viaV2(usersDat, userSchema).filter(pred)
    val scan = datScan(df)
    assert(!scan.description().contains("EndsWith"))
    val expected = MovieLens.readDat(spark, usersDat, userSchema)
      .filter(pred).count()
    assert(df.count() == expected && df.count() > 0)
  }

  test("q56_dat_source keeps one temp root however often it runs") {
    // the catalog query's DataFrame reads its round-trip files lazily,
    // so they live under one per-JVM root instead of a new top-level
    // temp dir per execution
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def roots(): Int = {
      val ls = Files.list(tmp)
      try ls.iterator().asScala
        .count(_.getFileName.toString.startsWith("graft_dat_rt"))
      finally ls.close()
    }
    val before = roots()
    (1 to 3).foreach(_ =>
      assert(DatSourceQueries.q56DatSource(spark, sf0001).count() > 0))
    assert(roots() - before <= 1)
  }

  test("short-name registration and schema inference work") {
    val df = spark.read.format("graftdat").load(usersDat)
    assert(df.schema.fieldNames.toSeq == Seq("f0", "f1", "f2", "f3", "f4"))
    assert(df.count() ==
      MovieLens.readDat(spark, usersDat, userSchema).count())
  }
}
