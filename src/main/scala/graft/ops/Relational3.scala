package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Query, Tables}

/** Third wave: reshaping (unpivot, explode), distribution window
  * functions, ordered collection aggregates, statistical moments. */
object Relational3 {

  /** Unpivot (melt): the lineitem charge components as (metric, value)
    * rows. */
  def q36Unpivot(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .filter(col("l_orderkey") <= 100)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "metric", "value")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"))

  val q36Sql: String =
    """SELECT l_orderkey, l_linenumber, metric, value FROM (
      | SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount, l_tax
      | FROM lineitem WHERE l_orderkey <= 100)
      |UNPIVOT (value FOR metric IN (l_extendedprice, l_discount, l_tax))
      |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin

  /** Lateral explode with position over a real array column. Raw float
    * elements pass through untouched (bit-exact in any engine). */
  def q37Explode(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "embeddings")
      .filter(col("vec_id") < 10)
      .select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos", "component")))
      .filter(col("pos") < 8)
      .orderBy(col("vec_id"), col("pos"))

  val q37Sql: String =
    """SELECT vec_id, CAST(i - 1 AS INT) AS pos, embedding[i] AS component
      |FROM embeddings, range(1, 9) t(i)
      |WHERE vec_id < 10
      |ORDER BY vec_id, pos""".stripMargin

  /** Distribution window functions — all rank-arithmetic (rational), so
    * engine-exact: percent_rank, cume_dist, ntile. */
  def q38WindowDist(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables(spark, dir, "customer")
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        ntile(4).over(w).as("quartile"))
      .orderBy(col("c_mktsegment"), col("c_custkey"))
  }

  val q38Sql: String =
    """SELECT c_mktsegment, c_custkey, c_acctbal,
      | PERCENT_RANK() OVER w AS pr,
      | CUME_DIST() OVER w AS cd,
      | CAST(NTILE(4) OVER w AS INT) AS quartile
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
      |ORDER BY c_mktsegment, c_custkey""".stripMargin

  /** Ordered collection aggregate: deterministic via an explicit sort of
    * the collected set (collect_list order is partition-dependent;
    * sort_array fixes it — same contract as DuckDB's ORDER BY inside
    * string_agg). */
  def q39CollectAgg(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "nation")
      .groupBy(col("n_regionkey"))
      .agg(
        array_join(sort_array(collect_list(col("n_name"))), ",")
          .as("nations"),
        count(lit(1)).as("n"))
      .orderBy(col("n_regionkey"))

  val q39Sql: String =
    """SELECT n_regionkey, STRING_AGG(n_name, ',' ORDER BY n_name) AS nations,
      | COUNT(*) AS n
      |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  /** Statistical moments per segment: mean, sample variance/stddev,
    * Pearson correlation, population skewness — computed from exact
    * DECIMAL power sums (s1..s3, sy, sy2, sxy) and only then combined in
    * double. The built-in `stddev_samp`/`skewness`/`corr` aggregates
    * stream doubles in partition order, which is engine- (and run-)
    * specific in the low bits; the moment form is algebraically the same
    * estimator but bit-deterministic in any engine, so it hash-matches
    * the oracle. Same single-shuffle plan: one hash aggregate. */
  def q40Stats(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(q40SparkSql)
  }

  /** The exact integer power sums, on balance *cents* (c_acctbal is a
    * 2-decimal double; round(x*100) recovers the exact integer in both
    * engines). The cube overflows a 64-bit long, so it sums in wide
    * exact integers — Spark DECIMAL(38,0), DuckDB HUGEINT (both cast to
    * DOUBLE with correct rounding; verified the DECIMAL(38,6)→DOUBLE
    * route instead is NOT correctly rounded in DuckDB 1.0). Everything
    * after the sums is the identical double-arithmetic text. */
  private def q40Moments(cube: String): String =
    s"""WITH m AS (
       |  SELECT c_mktsegment, COUNT(*) AS n,
       |    CAST(SUM(cc) AS DOUBLE) / 100.0 AS s1,
       |    CAST(SUM(cc * cc) AS DOUBLE) / 10000.0 AS s2,
       |    CAST(SUM($cube) AS DOUBLE) / 1000000.0 AS s3,
       |    CAST(SUM(c_custkey) AS DOUBLE) AS sy,
       |    CAST(SUM(c_custkey * c_custkey) AS DOUBLE) AS sy2,
       |    CAST(SUM(cc * c_custkey) AS DOUBLE) / 100.0 AS sxy
       |  FROM (SELECT c_mktsegment, c_custkey,
       |          CAST(round(c_acctbal * 100) AS BIGINT) AS cc
       |        FROM customer)
       |  GROUP BY c_mktsegment
       |)
       |SELECT c_mktsegment,
       |  s1 / n AS mean_bal,
       |  sqrt((s2 - s1 * s1 / n) / (n - 1)) AS sd_bal,
       |  (s2 - s1 * s1 / n) / (n - 1) AS var_bal,
       |  (sxy - s1 * sy / n)
       |    / (sqrt(s2 - s1 * s1 / n) * sqrt(sy2 - sy * sy / n))
       |    AS corr_bal_key,
       |  (s3 / n - 3 * (s1 / n) * (s2 / n)
       |     + 2 * (s1 / n) * (s1 / n) * (s1 / n))
       |    / ((s2 / n - (s1 / n) * (s1 / n))
       |       * sqrt(s2 / n - (s1 / n) * (s1 / n))) AS skew_bal
       |FROM m ORDER BY c_mktsegment""".stripMargin

  val q40SparkSql: String =
    q40Moments("CAST(cc AS DECIMAL(38,0)) * cc * cc")
  val q40Sql: String =
    q40Moments("cc::HUGEINT * cc * cc")

  /** F7 parity, typed form: `from_json` with an explicit schema turning
    * the events `props` string into a struct column (the pipeline-grade
    * path — get_json_object re-parses per field; from_json parses once). */
  def q41FromJson(spark: SparkSession, dir: String): DataFrame =
    Tables.factSpread(spark, dir, "events")
      .withColumn("p", from_json(col("props"), StructType(Seq(
        StructField("k", LongType)))))
      .groupBy(col("event_type"))
      .agg(
        count(when(col("p.k") > 50, 1)).as("n_high_k"),
        max(col("p.k")).as("max_k"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  val q41Sql: String =
    """SELECT event_type,
      | COUNT(CASE WHEN CAST(regexp_extract(props, '"k": ([0-9]+)', 1)
      |   AS BIGINT) > 50 THEN 1 END) AS n_high_k,
      | MAX(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT))
      |   AS max_k,
      | COUNT(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q57: linear-regression aggregates (regr_slope / regr_intercept /
    * r²) of extended price on quantity per return flag — same
    * exact-integer-moment discipline as [[q40Stats]]: the built-in
    * `regr_*` aggregates stream doubles in partition order
    * (engine-/run-specific low bits), so the power sums are exact wide
    * integers (price in cents; Syy overflows a long → DECIMAL(38,0) /
    * HUGEINT) and only the final formulas run in double, textually
    * identical on both sides. One hash aggregate, map-side partials —
    * the moment form IS the scalable one. */
  def q57Regression(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(q57SparkSql)
  }

  private def q57Moments(sq: String, yy: String): String =
    s"""WITH m AS (
       |  SELECT l_returnflag, COUNT(*) AS n,
       |    CAST(SUM(x) AS DOUBLE) AS sx,
       |    CAST(SUM($sq) AS DOUBLE) AS sxx,
       |    CAST(SUM(yc) AS DOUBLE) / 100.0 AS sy,
       |    CAST(SUM($yy) AS DOUBLE) / 10000.0 AS syy,
       |    CAST(SUM(x * yc) AS DOUBLE) / 100.0 AS sxy
       |  FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
       |          CAST(round(l_extendedprice * 100) AS BIGINT) AS yc
       |        FROM lineitem)
       |  GROUP BY l_returnflag
       |)
       |SELECT l_returnflag, n,
       |  (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
       |  (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
       |    AS intercept,
       |  ((n * sxy - sx * sy) * (n * sxy - sx * sy))
       |    / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
       |FROM m ORDER BY l_returnflag""".stripMargin

  val q57SparkSql: String =
    q57Moments("x * x", "CAST(yc AS DECIMAL(38,0)) * yc")
  val q57Sql: String =
    q57Moments("x * x", "yc::HUGEINT * yc")

  val registry: Seq[Query] = Seq(
    Query("q36_unpivot", q36Unpivot, Some(q36Sql)),
    Query("q37_explode", q37Explode, Some(q37Sql)),
    Query("q38_window_dist", q38WindowDist, Some(q38Sql)),
    Query("q39_collect_agg", q39CollectAgg, Some(q39Sql)),
    Query("q40_stats", q40Stats, Some(q40Sql)),
    Query("q41_from_json", q41FromJson, Some(q41Sql)),
    Query("q57_regression", q57Regression, Some(q57Sql)),
  )
}
