package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** As-of (point-in-time) join — an operator Spark's built-in join set
  * lacks. Semantics: for every event, attach the user's most recent
  * order with `o_orderdate <= ts`.
  *
  * Implementation is the scalable union-merge form, not a range cross
  * join: tag both inputs, union them, and sweep one partitioned window
  * ordered by time carrying the last seen order forward
  * (`last_value(..., ignoreNulls)`). Cost is ONE shuffle on the join key
  * + a per-key sort — at 100 TB this behaves like any windowed agg,
  * whereas the naive `e.ts >= o.date` theta-join is quadratic per key.
  * Orders are first deduped to one row per (user, instant) so the match
  * is well-defined in any engine.
  */
object AsOf {

  def q30AsOfJoin(spark: SparkSession, dir: String): DataFrame = {
    // one order per (custkey, orderdate): keep the max orderkey
    val repW = Window.partitionBy(col("o_custkey"), col("o_orderdate"))
      .orderBy(col("o_orderkey").desc)
    val orders = graft.Tables(spark, dir, "orders")
      .withColumn("rn", row_number().over(repW))
      .filter(col("rn") === 1)
      .select(col("o_custkey").as("user_id"), col("o_orderdate").as("t"),
        col("o_orderkey"), col("o_totalprice"))

    val events = graft.Tables(spark, dir, "events")
      .select(col("user_id"), col("ts").as("t"), col("event_id"))

    // tag: orders sort before events at the same instant (asof is <=)
    val tagged = orders
      .withColumn("kind", lit(0))
      .withColumn("event_id", lit(null).cast("bigint"))
      .select(col("user_id"), col("t"), col("kind"), col("event_id"),
        col("o_orderkey"), col("o_totalprice"))
      .unionByName(events
        .withColumn("kind", lit(1))
        .withColumn("o_orderkey", lit(null).cast("bigint"))
        .withColumn("o_totalprice", lit(null).cast("double"))
        .select(col("user_id"), col("t"), col("kind"), col("event_id"),
          col("o_orderkey"), col("o_totalprice")))

    val sweep = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("asof_orderkey",
        last(col("o_orderkey"), ignoreNulls = true).over(sweep))
      .withColumn("asof_totalprice",
        last(col("o_totalprice"), ignoreNulls = true).over(sweep))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("user_id"), col("t").as("ts"),
        col("asof_orderkey"), col("asof_totalprice"))
      .orderBy(col("event_id"))
  }

  /** DuckDB's native ASOF LEFT JOIN over the same deduped orders. */
  val q30Sql: String =
    """WITH ord AS (
      |  SELECT user_id, t, o_orderkey, o_totalprice FROM (
      |    SELECT o_custkey AS user_id, o_orderdate AS t, o_orderkey,
      |      o_totalprice,
      |      ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
      |        ORDER BY o_orderkey DESC) AS rn
      |    FROM orders) WHERE rn = 1
      |)
      |SELECT e.event_id, e.user_id, e.ts,
      |  d.o_orderkey AS asof_orderkey, d.o_totalprice AS asof_totalprice
      |FROM events e ASOF LEFT JOIN ord d
      |  ON e.user_id = d.user_id AND e.ts >= d.t
      |ORDER BY e.event_id""".stripMargin

  /** q73: FORWARD as-of join — for every `view` event, the same user's
    * NEAREST FOLLOWING `purchase` (`p.ts >= v.ts`, inclusive): the
    * label-lookahead shape ("next conversion after exposure") that
    * training pipelines pair with q30's backward state-lookup. (Events
    * against events, not orders: the orders table predates every event
    * by decades, so a forward match there would be vacuously NULL.)
    * Same union-merge sweep as q30, mirrored: the per-user window runs
    * time-DESC, so "last non-null seen" is the nearest purchase
    * at-or-after the view; purchases sort before views at the same
    * instant (inclusive match), deduped to one per (user, instant)
    * keeping the max event_id so the match is well-defined in any
    * engine. Cost identical to q30: ONE user_id shuffle + per-key
    * sort — never a per-key theta-join. */
  def q73AsOfForward(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables(spark, dir, "events")
    val repW = Window.partitionBy(col("user_id"), col("ts"))
      .orderBy(col("event_id").desc)
    val purchases = ev.filter(col("event_type") === "purchase")
      .withColumn("rn", row_number().over(repW))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("ts").as("t"),
        col("event_id").as("p_id"), col("value").as("p_value"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("t"), col("event_id"))

    val tagged = purchases
      .withColumn("kind", lit(0))
      .withColumn("event_id", lit(null).cast("bigint"))
      .select(col("user_id"), col("t"), col("kind"), col("event_id"),
        col("p_id"), col("p_value"))
      .unionByName(views
        .withColumn("kind", lit(1))
        .withColumn("p_id", lit(null).cast("bigint"))
        .withColumn("p_value", lit(null).cast("double"))
        .select(col("user_id"), col("t"), col("kind"), col("event_id"),
          col("p_id"), col("p_value")))

    // DESC sweep: far-future purchases arrive first, nearer ones
    // overwrite, so the running last at each view row is the closest
    // purchase with t' >= t
    val sweep = Window.partitionBy(col("user_id"))
      .orderBy(col("t").desc, col("kind").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("next_purchase_id",
        last(col("p_id"), ignoreNulls = true).over(sweep))
      .withColumn("next_purchase_value",
        last(col("p_value"), ignoreNulls = true).over(sweep))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("user_id"), col("t").as("ts"),
        col("next_purchase_id"), col("next_purchase_value"))
      .orderBy(col("event_id"))
  }

  /** DuckDB's native forward ASOF (`v.ts <= p.ts` picks the nearest
    * following row) over the same deduped purchases. */
  val q73Sql: String =
    """WITH pur AS (
      |  SELECT user_id, ts AS t, event_id AS p_id, value AS p_value FROM (
      |    SELECT user_id, ts, event_id, value,
      |      ROW_NUMBER() OVER (PARTITION BY user_id, ts
      |        ORDER BY event_id DESC) AS rn
      |    FROM events WHERE event_type = 'purchase') WHERE rn = 1
      |)
      |SELECT v.event_id, v.user_id, v.ts,
      |  p.p_id AS next_purchase_id, p.p_value AS next_purchase_value
      |FROM (SELECT event_id, user_id, ts FROM events
      |      WHERE event_type = 'view') v
      |ASOF LEFT JOIN pur p
      |  ON v.user_id = p.user_id AND v.ts <= p.t
      |ORDER BY v.event_id""".stripMargin

  /** The bucketized band-join core over any `(event_id, event_type,
    * value)` frame — the scalable form of the interval operator Spark's
    * join set lacks a fast path for.
    *
    * Bucketize the band dimension at the band width, explode the probe
    * side into its candidate buckets, equi-join on (type, bucket), then
    * apply the exact band predicate. The shuffle is an ordinary hash
    * join on the bucket key — no per-key quadratic theta-join; each
    * qualifying pair matches in exactly one bucket (the build row's
    * own), so no dedup is needed. The probe fans out to ±2 buckets:
    * mathematically in-band pairs sit ≤ 1 bucket apart, but
    * `floor(value·mult)` is computed in floating point, and at a
    * ulp-level boundary the rounding can push the two sides' buckets 2
    * apart — ±2 makes the candidate set provably complete (swept at ulp
    * boundaries in ScaleDesignSpec, which drives this core directly).
    *
    * The ±2 completeness argument REQUIRES bucket width = band width,
    * i.e. `mult ≈ 1/band` — with wider bands in-band pairs could sit
    * 3+ buckets apart and silently vanish from the candidate set, so
    * the coupling is enforced. */
  def bandPairs(ev: DataFrame, mult: Double, band: Double): DataFrame = {
    require(math.abs(mult * band - 1.0) < 1e-9,
      s"bucket width must equal band width (mult=$mult band=$band): " +
        "the ±2-bucket fan-out is only complete when mult = 1/band")
    val bucketOf = floor(col("value") * mult).cast("long")
    val build = ev.withColumn("bucket", bucketOf)
    val probe = ev
      .withColumn("bucket",
        explode(array(bucketOf - 2, bucketOf - 1, bucketOf, bucketOf + 1,
          bucketOf + 2)))
      .select(col("event_id").as("event_a"), col("event_type"),
        col("value").as("value_a"), col("bucket"))
    probe.join(build
        .select(col("event_id").as("event_b"), col("event_type"),
          col("value").as("value_b"), col("bucket")),
        Seq("event_type", "bucket"))
      .filter(col("event_a") < col("event_b") &&
        abs(col("value_a") - col("value_b")) <= band)
      .select(col("event_type"), col("event_a"), col("event_b"),
        col("value_a"), col("value_b"))
  }

  /** Range (band) join query: pairs of same-type error events whose
    * values lie within ±0.1 of each other, via [[bandPairs]]. */
  def q45RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    // band width 0.1 over the error events; bucket the band dimension
    // at exactly the band width
    val ev = graft.Tables.factSpread(spark, dir, "events")
      .filter(col("event_type") === "error")
      .select(col("event_id"), col("event_type"), col("value"))
    bandPairs(ev, mult = 10, band = 0.1)
      .orderBy(col("event_type"), col("event_a"), col("event_b"))
  }

  val q45Sql: String =
    """SELECT a.event_type, a.event_id AS event_a, b.event_id AS event_b,
      | a.value AS value_a, b.value AS value_b
      |FROM events a JOIN events b
      |  ON a.event_type = b.event_type AND a.event_id < b.event_id
      | AND ABS(a.value - b.value) <= 0.1
      |WHERE a.event_type = 'error'
      |ORDER BY a.event_type, event_a, event_b""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("q30_asof_join", q30AsOfJoin, Some(q30Sql)),
    Query("q73_asof_forward", q73AsOfForward, Some(q73Sql)),
    Query("q45_range_join", q45RangeJoin, Some(q45Sql)),
  )
}
