package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.{Query, Tables}

/** The relational operator surface (SURVEY.md §2.3): select / filter /
  * join (broadcast, sort-merge, semi, anti) / groupBy-agg (incl. rollup,
  * cube, grouping sets, pivot) / window (row_number, rank, lag, frames) /
  * sort / limit / set ops / distinct / scalar subquery.
  *
  * The reference has none of these as engine operators — its contract is
  * "hand user scripts a catalog of DataFrames and persist what they
  * return" (`/root/reference/R/DataFrameOperationR.R:84-89,226`), so the
  * relational algebra itself is delegated to Spark built-ins. Everything
  * here is declarative Catalyst: filters and projections push down to the
  * parquet scan, aggregates get map-side partial aggregation, join
  * strategies (broadcast vs shuffled) are picked by the optimizer + AQE.
  *
  * Determinism-for-oracle conventions (the driver hash-compares against
  * DuckDB, see Verify.scala):
  *  - money/quantity columns are 2-decimal data stored as double; sums
  *    cast to DECIMAL first (exact, engine-identical) and the final value
  *    back to DOUBLE. Plain double summation would diverge in low bits
  *    because accumulation order differs between engines.
  *  - every query ends with a total ORDER BY on a unique key set.
  *  - window orderings always include a unique tie-break key.
  */
object Relational {

  private def ts(s: String): Column = lit(java.sql.Timestamp.valueOf(s))

  /** Exact 2-decimal view of a money/quantity double column. */
  private def dec2(c: Column, p: Int = 18): Column = c.cast(DecimalType(p, 2))

  /** Exact sum of a 2-decimal double column, surfaced as double. */
  private def money(c: Column): Column = sum(dec2(c)).cast(DoubleType)

  /** Exact revenue term ep*(1-disc), kept in (narrow) decimals so the
    * product and sum stay exact in both Spark and DuckDB. */
  private def discPrice: Column =
    dec2(col("l_extendedprice"), 12) * (lit(1) - dec2(col("l_discount"), 3))

  // ---------------------------------------------------------------------
  // Aggregation
  // ---------------------------------------------------------------------

  /** TPC-H Q1-style pricing summary: scan → filter → hash-agg → sort.
    * Partial aggregation happens map-side; only 6 groups shuffle. */
  def q01PricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.factSpread(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= ts("2000-12-01 00:00:00"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        money(col("l_quantity")).as("sum_qty"),
        money(col("l_extendedprice")).as("sum_base_price"),
        sum(discPrice).cast(DoubleType).as("sum_disc_price"),
        sum(discPrice * (lit(1) + dec2(col("l_tax"), 3)))
          .cast(DoubleType).as("sum_charge"),
        (sum(dec2(col("l_quantity"))).cast(DoubleType) / count(lit(1)))
          .as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS sum_disc_price,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(3,2))) * (1 + CAST(l_tax AS DECIMAL(3,2)))) AS DOUBLE) AS sum_charge,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      | COUNT(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q6-style single-row predicate aggregate — everything pushes to
    * the scan; no shuffle at all (final agg over partial aggs). */
  def q06Forecast(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
        col("l_shipdate") < ts("1998-01-01 00:00:00") &&
        col("l_discount").between(0.04, 0.09) && col("l_quantity") < 24)
      .agg(sum(dec2(col("l_extendedprice"), 12) * dec2(col("l_discount"), 3))
        .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_rows"))

  val q06Sql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue,
      | COUNT(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.04 AND 0.09 AND l_quantity < 24""".stripMargin

  // ---------------------------------------------------------------------
  // Sort / limit
  // ---------------------------------------------------------------------

  /** Global top-k via TakeOrderedAndProject — per-partition top-k then a
    * k-row merge on the driver; no full sort, no full shuffle. */
  def q02TopOrders(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)

  val q02Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin

  // ---------------------------------------------------------------------
  // Joins
  // ---------------------------------------------------------------------

  /** TPC-H Q3-style 3-way join + agg + top-k. customer is small → AQE
    * turns it into a broadcast join; lineitem⋈orders shuffles on the
    * orderkey. */
  def q03ShipPriority(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") < ts("1998-01-01 00:00:00"))
    val li = Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") > ts("1996-01-01 00:00:00"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(discPrice).cast(DoubleType).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey").asc)
      .limit(10)
  }

  val q03Sql: String =
    """SELECT o_orderkey, o_orderdate, o_orderpriority,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
      |GROUP BY o_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin

  /** TPC-H Q5-style snowflake join (region→nation→customer→orders→
    * lineitem): dims broadcast, fact shuffles once. */
  def q05NationRevenue(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables(spark, dir, "region").filter(col("r_name") =!= "AFRICA")
    val nation = Tables(spark, dir, "nation")
    val cust = Tables(spark, dir, "customer")
    val ord = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00"))
    val li = Tables(spark, dir, "lineitem")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(discPrice).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  val q05Sql: String =
    """SELECT r_name, n_name,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
      | COUNT(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name <> 'AFRICA' AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  /** Explicit broadcast-hash join of the fact table against a small dim
    * (part): zero shuffle on the build side, fact side stays in place. */
  def q07BrandRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .join(broadcast(Tables(spark, dir, "part")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(money(col("l_extendedprice")).as("gross"),
        count(lit(1)).as("n_items"),
        countDistinct(col("l_partkey")).as("n_parts"))
      .orderBy(col("p_brand"))

  val q07Sql: String =
    """SELECT p_brand,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross,
      | COUNT(*) AS n_items,
      | COUNT(DISTINCT l_partkey) AS n_parts
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** Left-semi join (EXISTS): customers having at least one finished
    * high-value order. Semi joins ship only the join key — at scale this
    * is strictly cheaper than join+distinct. */
  def q08SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val bigF = Tables(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 150000)
    Tables(spark, dir, "customer")
      .join(bigF, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val q08Sql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |  AND o_orderstatus = 'F' AND o_totalprice > 150000)
      |ORDER BY c_custkey""".stripMargin

  /** Left-anti join (NOT EXISTS): customers with no urgent orders. */
  def q09AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
    Tables(spark, dir, "customer")
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  val q09Sql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |  AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** Fact⋈dim agg by supplier — sort-merge/shuffled-hash territory (both
    * sides bigger than a broadcast threshold at real scale; AQE decides
    * locally). */
  def q10SupplierRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.factSpread(spark, dir, "lineitem")
      .join(Tables(spark, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(sum(discPrice).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("s_suppkey"))

  val q10Sql: String =
    """SELECT s_suppkey, s_name,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
      | COUNT(*) AS n_items
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_suppkey, s_name ORDER BY s_suppkey""".stripMargin

  // ---------------------------------------------------------------------
  // Windows
  // ---------------------------------------------------------------------

  /** Top-3 parts per brand by retail price: row_number over a partitioned
    * window with a unique tie-break. The shuffle partitions by p_brand
    * only — no global sort. */
  def q11WindowTopK(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
    Tables(spark, dir, "part")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("p_brand"), col("rn"), col("p_partkey"),
        col("p_retailprice"))
      .orderBy(col("p_brand"), col("rn"))
  }

  val q11Sql: String =
    """SELECT p_brand, rn, p_partkey, p_retailprice FROM (
      | SELECT p_brand, p_partkey, p_retailprice,
      |  ROW_NUMBER() OVER (PARTITION BY p_brand
      |    ORDER BY p_retailprice DESC, p_partkey) AS rn
      | FROM part) WHERE rn <= 3
      |ORDER BY p_brand, rn""".stripMargin

  /** Running (prefix) revenue per supplier — frame UNBOUNDED PRECEDING..
    * CURRENT ROW; decimal arithmetic keeps the prefix sums engine-exact.
    *
    * The order key ends with l_quantity — the summed column — as a
    * last-resort tiebreaker: (l_orderkey, l_linenumber) is *almost* a
    * key, but the sf0.1 fixture contains a duplicated pair whose two
    * rows tie on (suppkey, shipdate, orderkey, linenumber) with
    * DIFFERENT quantities, and a prefix sum over a non-total order is
    * nondeterministic exactly at such ties (each engine — and each
    * shuffle — may sum the peers in either order; observed as a
    * one-row 7731-vs-7728 oracle flip). Ordering by the quantity too
    * makes every prefix value order-independent: rows still tied after
    * it have equal quantity, so either order yields the same sums. */
  def q12WindowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(spark, dir, "lineitem")
      .withColumn("running_qty", sum(dec2(col("l_quantity"))).over(w)
        .cast(DoubleType))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("running_qty"))
      .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
  }

  val q12Sql: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
      |   PARTITION BY l_suppkey
      |   ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |   AS running_qty
      |FROM lineitem
      |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin

  /** lag(): per-user deltas between consecutive event values. */
  def q13WindowLag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables(spark, dir, "events")
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .withColumn("delta", col("value") - col("prev_value"))
      .select(col("user_id"), col("event_id"), col("value"),
        col("prev_value"), col("delta"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val q13Sql: String =
    """SELECT user_id, event_id, value,
      | LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |   AS prev_value,
      | value - LAG(value, 1) OVER (PARTITION BY user_id
      |   ORDER BY ts, event_id) AS delta
      |FROM events ORDER BY user_id, event_id""".stripMargin

  /** rank() with genuine ties (integer p_size). */
  def q14WindowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("p_type")).orderBy(col("p_size").desc)
    Tables(spark, dir, "part")
      .withColumn("size_rank", rank().over(w))
      .filter(col("size_rank") <= 2)
      .select(col("p_type"), col("size_rank"), col("p_partkey"),
        col("p_size"))
      .orderBy(col("p_type"), col("size_rank"), col("p_partkey"))
  }

  val q14Sql: String =
    """SELECT p_type, size_rank, p_partkey, p_size FROM (
      | SELECT p_type, p_partkey, p_size,
      |  RANK() OVER (PARTITION BY p_type ORDER BY p_size DESC) AS size_rank
      | FROM part) WHERE size_rank <= 2
      |ORDER BY p_type, size_rank, p_partkey""".stripMargin

  // ---------------------------------------------------------------------
  // Grouping extensions: rollup / cube / grouping sets / pivot
  // ---------------------------------------------------------------------

  def q15Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.factSpread(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), money(col("l_quantity")).as("qty"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  val q15Sql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  def q16Cube(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), money(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  val q16Sql: String =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** GROUPING SETS via SQL on the registered catalog views — same text
    * Catalyst and DuckDB both accept. */
  def q17GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(q17Sql)
  }

  val q17Sql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** Pivot with an explicit value list (deterministic output columns);
    * oracle is the equivalent conditional aggregation. */
  def q18Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(count(lit(1)))
      .orderBy(col("l_returnflag"))

  val q18Sql: String =
    """SELECT l_returnflag,
      | COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS F,
      | COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS O
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------------
  // Set ops / distinct
  // ---------------------------------------------------------------------

  /** INTERSECT: customers ordering in both 1995 and 2000. */
  def q19Intersect(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables(spark, dir, "orders")
    def buyers(y: Int) = ord
      .filter(year(col("o_orderdate")) === y).select(col("o_custkey"))
    buyers(1995).intersect(buyers(2000)).orderBy(col("o_custkey"))
  }

  val q19Sql: String =
    """SELECT o_custkey FROM orders WHERE YEAR(o_orderdate) = 1995
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE YEAR(o_orderdate) = 2000
      |ORDER BY o_custkey""".stripMargin

  /** EXCEPT: customers who ordered in 1995 but not in 2000. */
  def q20Except(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables(spark, dir, "orders")
    def buyers(y: Int) = ord
      .filter(year(col("o_orderdate")) === y).select(col("o_custkey"))
    buyers(1995).except(buyers(2000)).orderBy(col("o_custkey"))
  }

  val q20Sql: String =
    """SELECT o_custkey FROM orders WHERE YEAR(o_orderdate) = 1995
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE YEAR(o_orderdate) = 2000
      |ORDER BY o_custkey""".stripMargin

  /** UNION ALL of two heterogeneous event slices, unioned by name. */
  def q21UnionAll(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("event_type"), col("value"))
    val bigBuys = ev.filter(col("event_type") === "purchase" &&
        col("value") > 150)
      .select(col("event_id"), col("event_type"), col("value"))
    errors.unionByName(bigBuys).orderBy(col("event_id"))
  }

  val q21Sql: String =
    """SELECT * FROM (
      | SELECT event_id, event_type, value FROM events
      |   WHERE event_type = 'error'
      | UNION ALL
      | SELECT event_id, event_type, value FROM events
      |   WHERE event_type = 'purchase' AND value > 150)
      |ORDER BY event_id""".stripMargin

  /** DISTINCT over a projection. */
  def q22Distinct(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "customer")
      .select(col("c_mktsegment"), col("c_nationkey")).distinct()
      .orderBy(col("c_mktsegment"), col("c_nationkey"))

  val q22Sql: String =
    """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
      |ORDER BY c_mktsegment, c_nationkey""".stripMargin

  // ---------------------------------------------------------------------
  // Subqueries
  // ---------------------------------------------------------------------

  /** Scalar subquery (orders > 1.5× the average order value); identical SQL
    * text runs in Catalyst and DuckDB. The exact-decimal average keeps the
    * comparison threshold engine-identical. */
  def q23ScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(q23Sql)
  }

  val q23Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_totalprice > 1.5 * (
      |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |         / COUNT(*) FROM orders)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------------
  // Projection / filter / scalar-function parity (SURVEY §2.2, §2.4)
  // ---------------------------------------------------------------------

  /** P1/P2 parity: conjunctive equality+range predicate and projection —
    * mirrors the reference's job-status filter
    * (`/root/reference/R/DataFrameOperationR.R:135`). */
  def q24FilterProject(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .filter(col("event_type") === "error" && col("value") > 100 &&
        col("user_id") =!= 0)
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy(col("event_id"))

  val q24Sql: String =
    """SELECT event_id, user_id, value FROM events
      |WHERE event_type = 'error' AND value > 100 AND user_id <> 0
      |ORDER BY event_id""".stripMargin

  /** P3 parity ("latest completed job per node" → latest event per user):
    * the reference relied on implicit row order
    * (`R/DataFrameOperationR.R:136-140`); distributed semantics require an
    * explicit ordering key, here (ts, event_id). */
  def q25LatestPerUser(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables(spark, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .orderBy(col("user_id"))
  }

  val q25Sql: String =
    """SELECT user_id, event_id, event_type, ts FROM (
      | SELECT user_id, event_id, event_type, ts,
      |  ROW_NUMBER() OVER (PARTITION BY user_id
      |    ORDER BY ts DESC, event_id DESC) AS rn
      | FROM events) WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  /** F1-F6 parity: concat / regexp_replace / split / trim / case / cast
    * as codegen'd column expressions (no UDFs). */
  def q26StringFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "customer")
      .select(
        col("c_custkey"),
        upper(col("c_name")).as("name_upper"),
        concat_ws("|", col("c_mktsegment"), col("c_name")).as("tagged"),
        regexp_replace(col("c_name"), "[0-9]+", "#").as("name_masked"),
        substring(col("c_name"), 10, 9).cast(LongType).as("name_id"),
        length(col("c_name")).as("name_len"),
        ltrim(lit("  x")).as("trimmed"))
      .orderBy(col("c_custkey"))

  val q26Sql: String =
    """SELECT c_custkey,
      | UPPER(c_name) AS name_upper,
      | CONCAT_WS('|', c_mktsegment, c_name) AS tagged,
      | REGEXP_REPLACE(c_name, '[0-9]+', '#', 'g') AS name_masked,
      | CAST(SUBSTR(c_name, 10, 9) AS BIGINT) AS name_id,
      | CAST(LENGTH(c_name) AS INT) AS name_len,
      | LTRIM('  x') AS trimmed
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** F10-ish date functions: year/month extraction + month truncation. */
  def q27DateFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .groupBy(year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        date_trunc("month", col("o_orderdate")).as("month_start"))
      .agg(count(lit(1)).as("n"), money(col("o_totalprice")).as("total"))
      .orderBy(col("y"), col("m"))

  val q27Sql: String =
    """SELECT CAST(YEAR(o_orderdate) AS INT) AS y,
      | CAST(MONTH(o_orderdate) AS INT) AS m,
      | DATE_TRUNC('month', o_orderdate) AS month_start,
      | COUNT(*) AS n,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY 1, 2, 3 ORDER BY y, m""".stripMargin

  /** F7 parity (JSON extraction): pull a typed field out of the events
    * `props` JSON string with get_json_object (oracle uses a regexp —
    * engine-identical on this shape). */
  def q28JsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .withColumn("k",
        get_json_object(col("props"), "$.k").cast(LongType))
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"), max(col("k")).as("max_k"))
      .orderBy(col("k_mod"))

  val q28Sql: String =
    """SELECT CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) % 10
      |   AS k_mod,
      | COUNT(*) AS n,
      | MAX(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT))
      |   AS max_k
      |FROM events GROUP BY 1 ORDER BY k_mod""".stripMargin

  /** Conditional aggregation (CASE WHEN inside agg). */
  def q29CaseAgg(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        count(when(col("o_orderpriority") === "1-URGENT", 1)).as("n_urgent"),
        count(when(col("o_totalprice") > 100000, 1)).as("n_big"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus"))

  val q29Sql: String =
    """SELECT o_orderstatus,
      | COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS n_urgent,
      | COUNT(CASE WHEN o_totalprice > 100000 THEN 1 END) AS n_big,
      | COUNT(*) AS n
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------------
  // Registry
  // ---------------------------------------------------------------------

  val registry: Seq[Query] = Seq(
    Query("q01_pricing_summary", q01PricingSummary, Some(q01Sql)),
    Query("q02_top_orders", q02TopOrders, Some(q02Sql)),
    Query("q03_ship_priority", q03ShipPriority, Some(q03Sql)),
    Query("q05_nation_revenue", q05NationRevenue, Some(q05Sql)),
    Query("q06_forecast", q06Forecast, Some(q06Sql)),
    Query("q07_brand_revenue", q07BrandRevenue, Some(q07Sql)),
    Query("q08_semi_join", q08SemiJoin, Some(q08Sql)),
    Query("q09_anti_join", q09AntiJoin, Some(q09Sql)),
    Query("q10_supplier_revenue", q10SupplierRevenue, Some(q10Sql)),
    Query("q11_window_topk", q11WindowTopK, Some(q11Sql)),
    Query("q12_window_running", q12WindowRunning, Some(q12Sql)),
    Query("q13_window_lag", q13WindowLag, Some(q13Sql)),
    Query("q14_window_rank", q14WindowRank, Some(q14Sql)),
    Query("q15_rollup", q15Rollup, Some(q15Sql)),
    Query("q16_cube", q16Cube, Some(q16Sql)),
    Query("q17_grouping_sets", q17GroupingSets, Some(q17Sql)),
    Query("q18_pivot", q18Pivot, Some(q18Sql)),
    Query("q19_intersect", q19Intersect, Some(q19Sql)),
    Query("q20_except", q20Except, Some(q20Sql)),
    Query("q21_union_all", q21UnionAll, Some(q21Sql)),
    Query("q22_distinct", q22Distinct, Some(q22Sql)),
    Query("q23_scalar_subquery", q23ScalarSubquery, Some(q23Sql)),
    Query("q24_filter_project", q24FilterProject, Some(q24Sql)),
    Query("q25_latest_per_user", q25LatestPerUser, Some(q25Sql)),
    Query("q26_string_funcs", q26StringFuncs, Some(q26Sql)),
    Query("q27_date_funcs", q27DateFuncs, Some(q27Sql)),
    Query("q28_json_extract", q28JsonExtract, Some(q28Sql)),
    Query("q29_case_agg", q29CaseAgg, Some(q29Sql)),
  )
}
