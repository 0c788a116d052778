package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Fifth wave: value-range window frames, exact interpolated
  * percentiles, and the salted-join skew pattern as a first-class
  * query. */
object Relational5 {

  /** Value-based RANGE window frame: for every event, how many events of
    * the same type have a value within 1.0 below it (inclusive). COUNT —
    * not SUM — so the frame result is exact integers: range *bounds* are
    * the single IEEE subtraction `value - 1.0` in either engine, but a
    * SUM's accumulation order inside the frame would be engine-specific.
    * One shuffle on the partition key, per-key sort — the frame walk is
    * a single pass with two pointers in both engines. */
  def q46RangeFrame(spark: SparkSession, dir: String): DataFrame = {
    // the fractional RANGE bound needs the SQL form (the Scala
    // Window.rangeBetween API only takes Long offsets); the identical
    // text runs through Catalyst and DuckDB
    Tables.registerAll(spark, dir)
    spark.sql(q46Sql)
  }

  val q46Sql: String =
    """SELECT event_type, event_id, value,
      | COUNT(*) OVER (PARTITION BY event_type ORDER BY value
      |   RANGE BETWEEN 1.0 PRECEDING AND CURRENT ROW) AS n_within
      |FROM events ORDER BY event_type, event_id""".stripMargin

  /** Exact interpolated percentiles (quartiles + median) of order value
    * per priority. Determinism without trusting either engine's
    * interpolation formula: the input is exact integer *cents* and the
    * fractions are dyadic (k/4), so `lower + frac·(upper−lower)` and
    * `(1−frac)·lower + frac·upper` are both computed without any
    * floating-point rounding — identical bits whichever form an engine
    * uses; the final /100 is one more identical exact-input division. */
  def q47Percentiles(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(q47Sql)
  }

  val q47Sql: String =
    """SELECT o_orderpriority,
      |  percentile_cont(0.25) WITHIN GROUP (ORDER BY cc) / 100.0 AS p25,
      |  percentile_cont(0.50) WITHIN GROUP (ORDER BY cc) / 100.0 AS median,
      |  percentile_cont(0.75) WITHIN GROUP (ORDER BY cc) / 100.0 AS p75,
      |  COUNT(*) AS n
      |FROM (SELECT o_orderpriority,
      |        CAST(round(o_totalprice * 100) AS BIGINT) AS cc
      |      FROM orders)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** The salted-join skew pattern ([[Skew.saltedEquiJoin]]) as a query:
    * lineitem⋈supplier with the supplier side fanned out over 8 salt
    * buckets, then revenue per supplier nation. The salt spreads any hot
    * supplier key over 8 reducers; the aggregate result is row-identical
    * to the plain join (which is what the oracle runs). */
  def q48SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables.factSpread(spark, dir, "lineitem")
    val sup = Tables(spark, dir, "supplier")
    Skew.saltedEquiJoin(li, sup, col("l_suppkey"), col("s_suppkey"), salt = 8)
      .groupBy(col("s_nationkey"))
      .agg(
        sum((col("l_extendedprice").cast("decimal(12,2)") *
          (lit(1) - col("l_discount").cast("decimal(3,2)"))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("s_nationkey"))
  }

  val q48Sql: String =
    """SELECT s_nationkey,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |   * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
      | COUNT(*) AS n_items
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  /** Array reshaping over a real vector column: per embedding, the top-8
    * components by value via sort + slice + reverse (all codegen'd array
    * built-ins, no lambda), exploded to rows with their rank. Raw floats
    * pass through untouched, so values are bit-exact in any engine. */
  def q49ArrayOps(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "embeddings")
      .filter(col("vec_id") < 100)
      .select(col("vec_id"),
        posexplode(reverse(slice(sort_array(col("embedding")), -8, 8)))
          .as(Seq("pos", "component")))
      .select(col("vec_id"), (col("pos") + 1).as("rank"), col("component"))
      .orderBy(col("vec_id"), col("rank"))

  val q49Sql: String =
    """SELECT vec_id, CAST(i AS INT) AS rank,
      |  list_sort(embedding, 'DESC')[i] AS component
      |FROM embeddings, range(1, 9) t(i)
      |WHERE vec_id < 100
      |ORDER BY vec_id, rank""".stripMargin

  /** Time-INTERVAL range frame (q46 covers numeric RANGE bounds): each
    * event's rolling trailing-hour count and value total per user — the
    * temporal rolling aggregate every sessionization/rate-limit job
    * needs, and the batch twin of a sliding streaming window. The SUM
    * rides exact DECIMAL cents (order-independent, so the frame's
    * engine-specific accumulation order cannot bite), cast to double on
    * output. Frame peers at equal ts are included by RANGE semantics in
    * both engines, so ties are deterministic. One shuffle on user_id,
    * per-user time sort, two-pointer frame walk. */
  def q62TimeRangeFrame(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(q62Sql)
  }

  val q62Sql: String =
    """SELECT user_id, event_id,
      |  COUNT(*) OVER w AS n_1h,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS v_1h
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts
      |  RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("q46_range_frame", q46RangeFrame, Some(q46Sql)),
    Query("q62_time_range_frame", q62TimeRangeFrame, Some(q62Sql)),
    Query("q47_percentiles", q47Percentiles, Some(q47Sql)),
    Query("q48_salted_join", q48SaltedJoin, Some(q48Sql)),
    Query("q49_array_ops", q49ArrayOps, Some(q49Sql)),
  )
}
