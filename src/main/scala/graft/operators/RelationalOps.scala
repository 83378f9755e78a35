package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Relational operator surface of the engine (SURVEY.md §2.1-2.8).
  *
  * Each query has a Spark implementation and, right next to it, the ANSI
  * SQL a DuckDB oracle runs over the same parquet tables. Aliases match
  * column-for-column (the driver's compare hashes by sorted column name).
  *
  * Scale notes (the 100 TB design point) are on each query; the general
  * rules: dims are broadcast, aggregates are partial+final hash aggs,
  * sort+limit lowers to TakeOrderedAndProject (no global sort), windows
  * are always partitioned (no single-partition Exchange), and every scan
  * prunes columns + pushes filters into parquet.
  */
object RelationalOps {

  /** TPC-H Q1-style pricing summary — SURVEY §2.4 A1/A2/A9 (group-by agg,
    * multi-aggregate). Reference analog: ratings-per-film counts,
    * `Explorativa2.ipynb:136-138`. Partial+final hash agg over 6 groups:
    * the shuffle carries 6 rows per map task regardless of input size, so
    * this scales linearly to 100 TB.
    */
  def q01PricingSummary(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  round(sum(l_extendedprice), 2) AS sum_base_price,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      |  round(avg(l_quantity), 4) AS avg_qty,
      |  round(avg(l_discount), 4) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Top-10 orders by price — SURVEY §2.6 O1-O3 (sort desc + limit).
    * Catalyst lowers orderBy+limit to TakeOrderedAndProject: each task
    * keeps a 10-row heap, driver merges — no global sort at any scale.
    * o_orderkey tiebreak makes the result set deterministic.
    */
  def q02TopOrders(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("price"))
      .orderBy(desc("price"), asc("o_orderkey"))
      .limit(10)

  val q02Sql: String =
    """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
      |FROM orders
      |ORDER BY price DESC, o_orderkey ASC
      |LIMIT 10""".stripMargin

  /** Revenue per brand — SURVEY §2.3 J1 (fact⟕dim broadcast join).
    * Reference analog: ratings ⟕ movies, `Explorativa1_pyspark.ipynb:363`.
    * `broadcast(part)` pins a BroadcastHashJoin: the dim ships to every
    * executor once; the 100 TB fact side never shuffles for the join.
    */
  def q03BrandRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val p = Tables.part(spark, sfDir)
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"), "left")
      .groupBy("p_brand")
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("p_brand")
  }

  val q03Sql: String =
    """SELECT p_brand,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  /** Customer stats per region — SURVEY §2.3 J2 (chained dim joins).
    * Two broadcast joins (nation 25 rows, region 5 rows); the customer
    * side stays put. At 100 TB the snowflake dims are still tiny —
    * always broadcast.
    */
  def q04RegionStats(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    val r = Tables.region(spark, sfDir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"), "left")
      .groupBy("r_name")
      .agg(
        count(lit(1)).as("n_cust"),
        round(avg("c_acctbal"), 2).as("avg_bal"),
        round(sum("c_acctbal"), 2).as("sum_bal"))
      .orderBy("r_name")
  }

  val q04Sql: String =
    """SELECT r_name, count(*) AS n_cust,
      |  round(avg(c_acctbal), 2) AS avg_bal,
      |  round(sum(c_acctbal), 2) AS sum_bal
      |FROM customer
      |LEFT JOIN nation ON c_nationkey = n_nationkey
      |LEFT JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name
      |ORDER BY r_name""".stripMargin

  /** Top order per customer — SURVEY §2.5 W2 (partitioned row_number,
    * keep rn==1). Reference analog: top film per genre,
    * `Explorativa2.ipynb:195-196`. The window is PARTITIONED by customer
    * so the sort is per-key within a hash-partitioned shuffle — the
    * canonical scalable top-k-per-group; no single-partition Exchange.
    */
  def q05TopOrderPerCustomer(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    Tables.orders(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("best_price"))
      .orderBy("o_custkey")
  }

  val q05Sql: String =
    """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS best_price
      |FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY o_custkey
      |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM orders)
      |WHERE rn = 1
      |ORDER BY o_custkey""".stripMargin

  /** Top-100 parts by revenue with rank — SURVEY §2.5 W1 (global-order
    * row_number) done scalably: aggregate first (one shuffle, |part|
    * rows), then TakeOrderedAndProject picks 100, and only those 100 get
    * the single-partition rank window (C12 rewrite — the reference ranks
    * the full table through one partition).
    */
  def q06PartRevenueRank(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val agg = li.groupBy("l_partkey")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(desc("revenue"), asc("l_partkey"))
      .limit(100)
    agg.withColumn("posicion",
      row_number().over(Window.orderBy(desc("revenue"), asc("l_partkey"))))
  }

  val q06Sql: String =
    """SELECT l_partkey, revenue,
      |  row_number() OVER (ORDER BY revenue DESC, l_partkey ASC) AS posicion
      |FROM (
      |  SELECT l_partkey,
      |    round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |  FROM lineitem GROUP BY l_partkey)
      |ORDER BY revenue DESC, l_partkey ASC
      |LIMIT 100""".stripMargin

  /** Value binning via CASE — SURVEY §2.2 P8 (when-chain; reference age
    * bins `app3/live_counts.py:52-61`). Pure projection + 4-group agg:
    * whole-stage-codegen'd, no shuffle beyond the 4-row agg.
    */
  def q08ValueBins(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("bin",
        when(col("value") < 25, "low")
          .when(col("value") < 100, "mid")
          .when(col("value") < 200, "high")
          .otherwise("xl"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("bin")

  val q08Sql: String =
    """SELECT CASE WHEN value < 25 THEN 'low'
      |            WHEN value < 100 THEN 'mid'
      |            WHEN value < 200 THEN 'high'
      |            ELSE 'xl' END AS bin,
      |  count(*) AS n, round(sum(value), 2) AS sum_value
      |FROM events
      |GROUP BY 1
      |ORDER BY bin""".stripMargin

  /** Distinct key pairs — SURVEY §2.2 P12 (dropDuplicates). Projecting
    * only the key columns first keeps the shuffle narrow (2 cols), and
    * partial dedup runs map-side before the exchange.
    */
  def q09DistinctPairs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select("user_id", "event_type")
      .dropDuplicates(Seq("user_id", "event_type"))
      .orderBy("user_id", "event_type")

  val q09Sql: String =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  /** Union of entity ids — SURVEY §2.7 U1 (unionByName; reference:
    * users ∪ movies vertices, `Explorativa3.ipynb:94`). Union is a
    * no-shuffle concatenation of partitions.
    */
  def q10UnionEntities(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("id"), lit("customer").as("tipo"))
    val s = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey").as("id"), lit("supplier").as("tipo"))
    c.unionByName(s).orderBy("tipo", "id")
  }

  val q10Sql: String =
    """SELECT c_custkey AS id, 'customer' AS tipo FROM customer
      |UNION ALL
      |SELECT s_suppkey AS id, 'supplier' AS tipo FROM supplier
      |ORDER BY tipo, id""".stripMargin

  /** Exact quantiles — SURVEY §2.4 A5 (approxQuantile with error 0 ⇒
    * exact; reference `Explorativa2.ipynb:358`). Uses the exact
    * `percentile` aggregate (linear interpolation, matches DuckDB
    * quantile_cont). At 100 TB swap to percentile_approx(…, 1e-4) —
    * same API shape, mergeable sketch instead of a full sort.
    */
  def q11Quantiles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .agg(
        round(expr("percentile(o_totalprice, 0.25)"), 4).as("q25"),
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("q50"),
        round(expr("percentile(o_totalprice, 0.75)"), 4).as("q75"))

  val q11Sql: String =
    """SELECT
      |  round(quantile_cont(o_totalprice, 0.25), 4) AS q25,
      |  round(quantile_cont(o_totalprice, 0.5), 4) AS q50,
      |  round(quantile_cont(o_totalprice, 0.75), 4) AS q75
      |FROM orders""".stripMargin

  /** Daily event rollup with date formatting — SURVEY §2.8 F7
    * (from_unixtime/date_format `dd/MM/yyyy`, reference
    * `Explorativa1_pyspark.ipynb:360` — dates kept as STRINGS to match
    * the reference's semantics).
    */
  def q12DailyEvents(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("day", date_format(col("ts"), "dd/MM/yyyy"))
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("day", "event_type")

  val q12Sql: String =
    """SELECT strftime(ts, '%d/%m/%Y') AS day, event_type,
      |  count(*) AS n, round(sum(value), 2) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY day, event_type""".stripMargin

  /** Regex extraction — SURVEY §2.8 F1/F2 (regexp_extract year-from-title,
    * reference `Explorativa1_pyspark.ipynb:91-92`). Pure codegen'd
    * projection.
    */
  def q13RegexExtract(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .select(
        col("c_custkey"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).as("digits"),
        regexp_replace(col("c_name"), "[0-9]", "").as("stem"))
      .orderBy("c_custkey")

  val q13Sql: String =
    """SELECT c_custkey,
      |  regexp_extract(c_name, '([0-9]+)', 1) AS digits,
      |  regexp_replace(c_name, '[0-9]', '', 'g') AS stem
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  /** Customers with no orders — left ANTI join (NOT EXISTS). Beyond the
    * reference's join surface (SURVEY §2.3 notes anti joins absent) —
    * shuffle-hash/broadcast anti join, no row explosion.
    */
  def q14AntiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("2001-01-01"))
      .select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  val q14Sql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey
      |    AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
      |ORDER BY c_custkey""".stripMargin

  /** Market segments of customers that DO have orders — left SEMI join
    * (EXISTS) + agg.
    */
  def q15SemiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir).select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"))
      .orderBy("c_mktsegment")
  }

  val q15Sql: String =
    """SELECT c_mktsegment, count(*) AS n FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** ROLLUP subtotals — beyond the reference (SURVEY §2.4 flags grouping
    * sets absent). Spark expands rollup into grouping sets inside a
    * single hash agg — still one shuffle.
    */
  def q16Rollup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  val q16Sql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** Global scalar aggregates — SURVEY §2.4 A4/A9 + exact distinct count.
    * countDistinct is a two-phase agg; at 100 TB prefer
    * approx_count_distinct (HLL) — provided in StatsOps.
    */
  def q17GlobalStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("o_custkey")).as("n_cust"),
        round(min("o_totalprice"), 2).as("min_price"),
        round(max("o_totalprice"), 2).as("max_price"),
        round(avg("o_totalprice"), 4).as("avg_price"),
        round(sum("o_totalprice"), 2).as("sum_price"))

  val q17Sql: String =
    """SELECT count(*) AS n,
      |  count(DISTINCT o_custkey) AS n_cust,
      |  round(min(o_totalprice), 2) AS min_price,
      |  round(max(o_totalprice), 2) AS max_price,
      |  round(avg(o_totalprice), 4) AS avg_price,
      |  round(sum(o_totalprice), 2) AS sum_price
      |FROM orders""".stripMargin

  /** Analytic window functions: running sum + lag, partitioned by user —
    * beyond the reference (SURVEY §2.5 flags lag/frames absent).
    * Partitioned window ⇒ one hash shuffle on user_id, per-key sort.
    */
  def q18RunningWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(spark, sfDir)
      .select(
        col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("value"),
        round(sum("value").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
          .as("running_sum"),
        lag("event_type", 1).over(w).as("prev_type"))
      .orderBy("user_id", "ts_us", "event_id")
  }

  val q18Sql: String =
    """SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
      |  round(sum(value) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_sum,
      |  lag(event_type, 1) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |FROM events
      |ORDER BY user_id, ts_us, event_id""".stripMargin

  /** As-of join, window formulation: each purchase event picks up the
    * timestamp of the latest STRICTLY-PRIOR click by the same user.
    * Beyond the reference (SURVEY §2.3: no as-of joins). Instead of a
    * range cross-join this is one partitioned window pass —
    * last(clickTs, ignoreNulls) over rows [-∞, -1] — which scales as a
    * single shuffle on user_id.
    */
  def q19AsofClick(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, sfDir)
      .withColumn("click_us",
        when(col("event_type") === "click", unix_micros(col("ts"))))
      .withColumn("prev_click_us", last("click_us", ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("prev_click_us"))
      .orderBy("event_id")
  }

  val q19Sql: String =
    """SELECT event_id, user_id, epoch_us(ts) AS ts_us, prev_click_us
      |FROM (
      |  SELECT event_id, user_id, ts, event_type,
      |    last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END
      |               IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_click_us
      |  FROM events)
      |WHERE event_type = 'purchase'
      |ORDER BY event_id""".stripMargin

  /** Map-literal lookup — SURVEY §2.8 F6 (create_map + element_at;
    * reference occupation-code map `Explorativa1_pyspark.ipynb:251-256`).
    * The map literal constant-folds; no join, no shuffle beyond the agg.
    */
  private val nationGroups: Seq[(Int, String)] =
    (0 until 25).map(i => i -> s"G${i % 5}")

  def q20MapLabel(spark: SparkSession, sfDir: String): DataFrame = {
    val m = map(nationGroups.flatMap { case (k, v) =>
      Seq(lit(k), lit(v)) }: _*)
    Tables.customer(spark, sfDir)
      .withColumn("grp", element_at(m, col("c_nationkey")))
      .groupBy("grp")
      .agg(count(lit(1)).as("n"))
      .orderBy("grp")
  }

  val q20Sql: String = {
    val cases = nationGroups
      .map { case (k, v) => s"WHEN c_nationkey = $k THEN '$v'" }
      .mkString(" ")
    s"""SELECT CASE $cases END AS grp, count(*) AS n
       |FROM customer
       |GROUP BY 1
       |ORDER BY grp""".stripMargin
  }

  /** Range-dim lookup — SURVEY §2.9 UD1 re-expressed natively: the
    * reference's only UDF (zip→state: 3-digit prefix against 58
    * (low,high,state) ranges) becomes a broadcast range join against a
    * literal dim table. The broadcast hint plans it as
    * [[graft.plans.IntervalJoin]]: the 5 tiers are indexed once and each
    * customer probes them locally, with no shuffle and no Python.
    */
  private[graft] val balTiers: Seq[(Double, Double, String)] = Seq(
    (-1e18, 0.0, "debt"),
    (0.0, 1000.0, "bronze"),
    (1000.0, 3000.0, "silver"),
    (3000.0, 6000.0, "gold"),
    (6000.0, 1e18, "platinum"))

  def q21RangeLabel(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dim = balTiers.toDF("lo", "hi", "tier")
    val c = Tables.customer(spark, sfDir)
    c.join(broadcast(dim),
        c("c_acctbal") >= dim("lo") && c("c_acctbal") < dim("hi"), "left")
      .groupBy("tier")
      .agg(count(lit(1)).as("n"), round(avg("c_acctbal"), 2).as("avg_bal"))
      .orderBy("tier")
  }

  val q21Sql: String = {
    val rows = balTiers
      .map { case (lo, hi, t) => s"($lo, $hi, '$t')" }.mkString(", ")
    s"""SELECT tier, count(*) AS n, round(avg(c_acctbal), 2) AS avg_bal
       |FROM customer
       |LEFT JOIN (SELECT * FROM (VALUES $rows) AS t(lo, hi, tier)) dim
       |  ON c_acctbal >= lo AND c_acctbal < hi
       |GROUP BY tier
       |ORDER BY tier""".stripMargin
  }

  /** CSV write + header/inferSchema read-back (SURVEY §2.1 S2/S5;
    * reference: metrics CSVs, `Explorativa2.ipynb:423`): a slice of
    * events round-trips through CSV files and is re-aggregated. The
    * oracle computes the same aggregate from parquet — doubles survive
    * the text round-trip because Spark writes shortest-round-trip
    * representations.
    */
  def q22CsvRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv_rt")
      .resolve("events_csv").toString
    Tables.events(spark, sfDir)
      .filter(col("event_id") < 2000)
      .select("event_id", "user_id", "event_type", "value")
      .write.mode("overwrite").option("header", "true").csv(dir)
    spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .csv(dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(sum("value"), 2).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type")
  }

  val q22Sql: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value,
      |  count(DISTINCT user_id) AS n_users
      |FROM events
      |WHERE event_id < 2000
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Temp-view registration + SQL entry point (SURVEY §2.1 S14/S15;
    * reference: `spark.sql("select … from feedback_raw")`,
    * `app3/live_counts.py:73`) — the engine's Catalyst SQL parser path.
    */
  def q23SqlEntry(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders_v")
    Tables.customer(spark, sfDir).createOrReplaceTempView("customer_v")
    spark.sql(
      """SELECT c_mktsegment, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders_v JOIN customer_v ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)
  }

  val q23Sql: String =
    """SELECT c_mktsegment, count(*) AS n,
      |  round(sum(o_totalprice), 2) AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** JSON field extraction from a string column — SURVEY §2.8 F8 batch
    * path (streaming from_json lives in FeedbackPipeline): pull `k`
    * out of events.props, bucket it, aggregate. Codegen'd projection,
    * one small agg.
    */
  def q24JsonExtract(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .withColumn("k_bucket", col("k") - (col("k") % 10))
      .groupBy("k_bucket")
      .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("avg_value"))
      .orderBy("k_bucket")

  val q24Sql: String =
    """SELECT k - (k % 10) AS k_bucket, count(*) AS n,
      |  round(avg(value), 4) AS avg_value
      |FROM (SELECT json_extract_string(props, '$.k')::INT AS k, value
      |      FROM events)
      |GROUP BY 1
      |ORDER BY k_bucket""".stripMargin

  /** INTERSECT / EXCEPT set operators — beyond the reference (SURVEY
    * §2.7 lists them absent). Both lower to hash-dedup + semi/anti
    * joins in Catalyst.
    */
  def q25SetOps(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
      .select(col("c_nationkey").cast("int").as("key"))
    val s = Tables.supplier(spark, sfDir)
      .select(col("s_nationkey").cast("int").as("key"))
    val both = c.intersect(s).withColumn("which", lit("both"))
    val custOnly = c.except(s).withColumn("which", lit("customer_only"))
    both.unionByName(custOnly).orderBy("which", "key")
  }

  val q25Sql: String =
    """SELECT key, 'both' AS which FROM (
      |  SELECT c_nationkey::INT AS key FROM customer
      |  INTERSECT
      |  SELECT s_nationkey::INT AS key FROM supplier)
      |UNION ALL
      |SELECT key, 'customer_only' AS which FROM (
      |  SELECT c_nationkey::INT AS key FROM customer
      |  EXCEPT
      |  SELECT s_nationkey::INT AS key FROM supplier)
      |ORDER BY which, key""".stripMargin

  /** All (name, spark-impl, oracle-sql) triples this module exports. */
  /** GROUPING SETS with grouping() disambiguation — beyond q16's
    * rollup: three independent aggregation grains in ONE scan (Spark
    * expands with a single Expand node feeding one hash agg, not three
    * scans). grouping() tells a real NULL apart from a rolled-up one.
    */
  def q32GroupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders_gs")
    spark.sql(
      """SELECT o_orderpriority, o_orderstatus,
        |  grouping(o_orderpriority) AS g_prio,
        |  grouping(o_orderstatus) AS g_status,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
        |FROM orders_gs
        |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
        |  (o_orderpriority), (o_orderstatus))
        |ORDER BY g_prio, g_status, o_orderpriority NULLS FIRST,
        |  o_orderstatus NULLS FIRST""".stripMargin)
  }

  val q32Sql: String =
    """SELECT o_orderpriority, o_orderstatus,
      |  grouping(o_orderpriority) AS g_prio,
      |  grouping(o_orderstatus) AS g_status,
      |  count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
      |  (o_orderpriority), (o_orderstatus))
      |ORDER BY g_prio, g_status, o_orderpriority NULLS FIRST,
      |  o_orderstatus NULLS FIRST""".stripMargin


  val catalog: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("q01_pricing_summary", q01PricingSummary _, q01Sql),
    ("q02_top_orders", q02TopOrders _, q02Sql),
    ("q03_brand_revenue", q03BrandRevenue _, q03Sql),
    ("q04_region_stats", q04RegionStats _, q04Sql),
    ("q05_top_order_per_customer", q05TopOrderPerCustomer _, q05Sql),
    ("q06_part_revenue_rank", q06PartRevenueRank _, q06Sql),
    ("q08_value_bins", q08ValueBins _, q08Sql),
    ("q09_distinct_pairs", q09DistinctPairs _, q09Sql),
    ("q10_union_entities", q10UnionEntities _, q10Sql),
    ("q11_quantiles", q11Quantiles _, q11Sql),
    ("q12_daily_events", q12DailyEvents _, q12Sql),
    ("q13_regex_extract", q13RegexExtract _, q13Sql),
    ("q14_anti_join", q14AntiJoin _, q14Sql),
    ("q15_semi_join", q15SemiJoin _, q15Sql),
    ("q16_rollup", q16Rollup _, q16Sql),
    ("q17_global_stats", q17GlobalStats _, q17Sql),
    ("q18_running_window", q18RunningWindow _, q18Sql),
    ("q19_asof_click", q19AsofClick _, q19Sql),
    ("q20_map_label", q20MapLabel _, q20Sql),
    ("q21_range_label", q21RangeLabel _, q21Sql),
    ("q22_csv_roundtrip", q22CsvRoundtrip _, q22Sql),
    ("q23_sql_entry", q23SqlEntry _, q23Sql),
    ("q24_json_extract", q24JsonExtract _, q24Sql),
    ("q25_set_ops", q25SetOps _, q25Sql),
    ("q32_grouping_sets", q32GroupingSets _, q32Sql))
}
