package graft.sources

import java.nio.file.{Files, Path}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables

/** Catalog twin for the custom `graftdat` DataSource V2: a slice of
  * `customer` round-trips through `::`-delimited text and is read back
  * through the V2 source with BOTH pruning and pushdown active — the
  * oracle recomputes the same aggregate straight from parquet, so a
  * parsing, split-ownership, pruning, or filter-evaluation bug in the
  * source breaks the hash.
  *
  * `splitbytes` is forced down to the floor so even this small file
  * fans out into several byte-range splits — the query proves split
  * ownership (no dropped/duplicated boundary lines), not just parsing.
  */
object DatSourceQueries {

  /** One round-trip root per JVM, removed at exit. The returned
    * DataFrame reads its text files lazily, so an execution cannot
    * delete its own directory; each writes a fresh subdirectory here
    * instead of a new top-level temp dir. */
  private lazy val roundTripRoot: Path = {
    val root = Files.createTempDirectory("graft_dat_rt")
    sys.addShutdownHook(FileUtils.deleteQuietly(root.toFile))
    root
  }

  def q56DatSource(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Files.createTempDirectory(roundTripRoot, "run")
      .resolve("customer_dat").toString
    Tables.customer(spark, sfDir)
      .select(concat_ws("::",
        col("c_custkey"), col("c_mktsegment"), col("c_name"),
        col("c_acctbal"), col("c_nationkey")))
      .write.mode("overwrite").text(dir)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_mktsegment", StringType),
      StructField("c_name", StringType),
      StructField("c_acctbal", DoubleType),
      StructField("c_nationkey", LongType)))
    spark.read.format("graftdat")
      .schema(schema)
      .option("splitbytes", "65536")
      .load(dir)
      .filter(col("c_acctbal") > 0.0 && col("c_nationkey") < 20L)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        round(sum("c_acctbal"), 2).as("sum_bal"),
        min("c_custkey").as("min_key"),
        max("c_custkey").as("max_key"))
      .orderBy("c_mktsegment")
  }

  val q56Sql: String =
    """SELECT c_mktsegment, count(*) AS n,
      |  round(sum(c_acctbal), 2) AS sum_bal,
      |  min(c_custkey) AS min_key, max(c_custkey) AS max_key
      |FROM customer
      |WHERE c_acctbal > 0.0 AND c_nationkey < 20
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  val catalog: Seq[(String, (SparkSession, String) => DataFrame, String)] =
    Seq(("q56_dat_source", q56DatSource _, q56Sql))
}
