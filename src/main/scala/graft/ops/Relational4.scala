package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Fourth wave: complex analytic patterns — correlated subqueries in
  * WHERE, CTE + window + HAVING pipelines, argmax aggregates. The SQL
  * forms run the identical text through Catalyst and DuckDB. */
object Relational4 {

  /** Correlated scalar subquery (TPC-H Q17-flavored): lineitems whose
    * quantity is below 40% of their part's average quantity. */
  def q42CorrelatedAvg(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(q42Sql)
  }

  val q42Sql: String =
    """SELECT l_orderkey, l_partkey, l_quantity FROM lineitem l1
      |WHERE l_quantity < 0.4 * (
      |  SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |         / COUNT(*)
      |  FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
      |ORDER BY l_orderkey, l_partkey, l_quantity""".stripMargin

  /** CTE → window → HAVING pipeline: nations whose customers hold more
    * than the global average account balance, with their wealth rank. */
  def q43CteWindowHaving(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(q43Sql)
  }

  val q43Sql: String =
    """WITH nation_wealth AS (
      |  SELECT c_nationkey,
      |    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS wealth,
      |    COUNT(*) AS n_cust
      |  FROM customer GROUP BY c_nationkey
      |  HAVING COUNT(*) >= 20
      |)
      |SELECT c_nationkey, wealth, n_cust,
      |  CAST(RANK() OVER (ORDER BY wealth DESC, c_nationkey) AS INT)
      |    AS wealth_rank
      |FROM nation_wealth
      |ORDER BY wealth_rank""".stripMargin

  /** argmax/argmin aggregates: per event type, the id of the event with
    * the highest/lowest value. The ordering key is an exact integer
    * composite (value-cents × 1e10 ± event_id; safe for any event_id below 10 billion) so ties on `value` break
    * deterministically and identically in both engines (DuckDB's
    * arg_max has no struct-key overload). */
  def q44ArgMax(spark: SparkSession, dir: String): DataFrame =
    graft.Tables(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        expr("max_by(event_id, cast(round(value * 100) as bigint) * 10000000000 + event_id)")
          .as("max_value_event"),
        expr("min_by(event_id, cast(round(value * 100) as bigint) * 10000000000 - event_id)")
          .as("min_value_event"),
        max(col("value")).as("max_value"),
        min(col("value")).as("min_value"))
      .orderBy(col("event_type"))

  val q44Sql: String =
    """SELECT event_type,
      | ARG_MAX(event_id, CAST(round(value * 100) AS BIGINT) * 10000000000
      |   + event_id) AS max_value_event,
      | ARG_MIN(event_id, CAST(round(value * 100) AS BIGINT) * 10000000000
      |   - event_id) AS min_value_event,
      | MAX(value) AS max_value,
      | MIN(value) AS min_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("q42_correlated_avg", q42CorrelatedAvg, Some(q42Sql)),
    Query("q43_cte_window_having", q43CteWindowHaving, Some(q43Sql)),
    Query("q44_arg_max", q44ArgMax, Some(q44Sql)),
  )
}
