package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated TPC-H-ish tables (TESTDATA.md).
  *
  * Every loader is a plain parquet scan: Catalyst pushes filters and prunes
  * columns into the scan, so callers should select/filter on the returned
  * DataFrame rather than asking for pre-filtered variants. At 100 TB these
  * would be partitioned tables (e.g. lineitem by ship-month); the API is
  * unchanged — `spark.read.parquet` handles partition pruning transparently.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else conform(
      normalizeTs(spark.read.parquet(s"$sfDir/$name.parquet"), name), name)

  /** The engine's pinned schema per table — what every reader of these
    * loaders has been built and oracle-verified against. The testdata
    * regenerates between rounds and its physical types have drifted
    * before (the round-9 events outage); [[conform]] absorbs the SAFE
    * drift class (numeric width changes, e.g. an id re-encoded int32)
    * by casting back to the pinned type, and fails LOUDLY at load time
    * for anything else — one clear error at the scan beats 24 queries
    * dying downstream with analysis errors. TablesSpec pins the same
    * shapes independently.
    */
  private val pinned: Map[String, Seq[(String, org.apache.spark.sql.types.DataType)]] = {
    import org.apache.spark.sql.types._
    Map(
      "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
      "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType),
      "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType),
      "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType,
        "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
      "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampNTZType),
      "events" -> Seq("event_id" -> LongType, "ts" -> TimestampType,
        "user_id" -> LongType, "event_type" -> StringType,
        "value" -> DoubleType, "props" -> StringType),
      "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      "embeddings" -> Seq("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType), "label" -> IntegerType))
  }

  private def conform(df: DataFrame, name: String): DataFrame = {
    import org.apache.spark.sql.types.NumericType
    pinned.get(name).fold(df) { cols =>
      cols.foldLeft(df) { case (d, (c, want)) =>
        if (!d.columns.contains(c))
          throw new IllegalStateException(
            s"$name.$c is missing from the scanned testdata — " +
              "regen dropped or renamed a pinned column")
        else d.schema(c).dataType match {
          case got if got == want => d
          case got: NumericType if want.isInstanceOf[NumericType] =>
            d.withColumn(c, col(c).cast(want)) // safe width drift
          case got => throw new IllegalStateException(
            s"$name.$c arrived as $got, pinned $want — non-numeric " +
              "drift needs an explicit loader branch (see eventsRaw)")
        }
      }
    }
  }

  /** Timestamp columns whose parquet encoding has drifted across
    * testdata regenerations (see [[eventsRaw]]). Each is normalized to
    * the type the engine (and its green oracle runs) has always seen:
    * TIMESTAMP_NTZ for the TPC-H date columns. A nanos regen arrives as
    * LongType (via the session-wide `nanosAsLong` flag) and would
    * otherwise fail analysis in every reader of the column.
    */
  private val ntzColumns: Map[String, Seq[String]] = Map(
    "orders" -> Seq("o_orderdate"),
    "lineitem" -> Seq("l_shipdate"))

  private def normalizeTs(df: DataFrame, name: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    ntzColumns.getOrElse(name, Nil).foldLeft(df) { (d, c) =>
      d.schema(c).dataType match {
        case TimestampNTZType => d
        case LongType => // nanos-as-long: micros → UTC instant → NTZ wall-clock
          d.withColumn(c,
            timestamp_micros(expr(s"$c div 1000")).cast(TimestampNTZType))
        case TimestampType => d.withColumn(c, col(c).cast(TimestampNTZType))
        case other => throw new IllegalStateException(
          s"$name.$c arrived as unsupported type $other")
      }
    }
  }

  /** `events.parquet`'s `ts` encoding has varied across testdata
    * generations: TIMESTAMP(NANOS) (which Spark's vectorized reader only
    * accepts as a long via `nanosAsLong`) and TIMESTAMP(MICROS) (read
    * natively, as TIMESTAMP_NTZ when the file is not UTC-adjusted). Branch
    * on the type the scan actually yields so either generation loads with
    * identical UTC semantics — DuckDB/the oracle sees the same instants.
    *
    * nanosAsLong is a session-wide flag (the parquet schema converter
    * reads SQLConf, not per-scan options) and is a no-op for non-nanos
    * files, so [[GraftSession]] sets it at session construction and the
    * loaders never change it on a live session.
    */
  private def eventsRaw(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType => // nanos-as-long generation: truncate to micros
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // micros generation, not UTC-adjusted: interpret the wall-clock in
        // the session TZ (pinned UTC engine-wide) to keep the old instants.
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other =>
        throw new IllegalStateException(
          s"events.ts arrived as unsupported type $other; expected " +
            "LongType (nanos-as-long), TIMESTAMP_NTZ, or TIMESTAMP")
    }
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame =
    conform(eventsRaw(s, d), "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
