package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Query, Tables}

/** Time-windowed analytics over the `events` table (SURVEY.md §2.5 —
  * north-star extension; the reference is batch-only).
  *
  * The same `window()` / `session_window()` expressions run identically
  * over a bounded DataFrame and a `readStream` source; the batch forms
  * below are what Verify/Bench exercise, and [[streamingHourlyCounts]]
  * wires the identical aggregation to a streaming source with a
  * watermark (exercised in StreamingSpec against a memory sink).
  */
object EventWindows {

  // ---------------------------------------------------------------------
  // Batch forms (oracle-checkable)
  // ---------------------------------------------------------------------

  /** Tumbling 1-hour windows per event type. Epoch-aligned, so DuckDB's
    * `time_bucket` produces identical bucket starts. */
  def st01TumblingHourly(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("total_value"))
      .orderBy(col("hour_start"), col("event_type"))

  val st01Sql: String =
    """SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, event_type,
      | COUNT(*) AS n,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin

  /** Sliding windows: 1-hour window sliding every 30 minutes — each
    * event lands in two windows. Oracle unions the two epoch-aligned
    * half-hour phases. */
  def st02SlidingWindows(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"),
        col("window.end").as("win_end"), col("n"))
      .orderBy(col("win_start"))

  val st02Sql: String =
    """SELECT win_start, win_start + INTERVAL '1 hour' AS win_end,
      | COUNT(*) AS n
      |FROM (
      |  SELECT time_bucket(INTERVAL '30 minutes', ts) AS b, ts FROM events
      |), LATERAL (VALUES (b), (b - INTERVAL '30 minutes')) AS t(win_start)
      |WHERE ts >= win_start AND ts < win_start + INTERVAL '1 hour'
      |GROUP BY win_start ORDER BY win_start""".stripMargin

  /** Session windows per user with a 30-minute inactivity gap. The
    * oracle reproduces the same sessionization with a gaps-and-islands
    * window query (break when gap ≥ 30 min, matching Spark's half-open
    * session intervals). */
  def st03SessionWindows(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("total_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"),
        col("total_value"))
      .orderBy(col("user_id"), col("session_start"))

  val st03Sql: String =
    """WITH marked AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |      >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS brk
      |  FROM events
      |), numbered AS (
      |  SELECT user_id, ts, value,
      |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      |  FROM marked
      |)
      |SELECT user_id, MIN(ts) AS session_start,
      | MAX(ts) + INTERVAL '30 minutes' AS session_end,
      | COUNT(*) AS n_events,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM numbered GROUP BY user_id, sess
      |ORDER BY user_id, session_start""".stripMargin

  /** Exact distinct users + event count per tumbling hour. The batch
    * form of the classic streaming cardinality question; the streaming
    * variant swaps `count_distinct` for `approx_count_distinct` (exact
    * distinct needs the whole window's key set in state — the sketch is
    * the 100 TB answer, cf. q35). */
  def st04WindowedDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count_distinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("hour_start"), col("n_users"),
        col("n_events"))
      .orderBy(col("hour_start"))

  val st04Sql: String =
    """SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start,
      | COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
      |FROM events GROUP BY 1 ORDER BY hour_start""".stripMargin

  // ---------------------------------------------------------------------
  // Streaming forms (exercised by StreamingSpec)
  // ---------------------------------------------------------------------

  /** The st01 aggregation as a streaming query with a 10-minute
    * watermark. Caller supplies the streaming source (`readStream`) and
    * sinks it (memory sink in tests). */
  def streamingHourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"))

  /** Streaming session windows — st03's aggregation as a real streaming
    * query: `session_window` with a watermark is the one windowed
    * aggregate whose STATE MERGES (two open sessions fuse the moment an
    * event lands inside both gaps), which tumbling/sliding windows
    * never do. Session aggregations support append (emit on watermark
    * close) and complete output — NOT update (a merge can rewrite
    * other sessions' windows); in complete mode a cross-batch merge is
    * observable as the next snapshot holding one spanning session
    * where the partial used to be (StreamingSpec pins exactly that,
    * plus snapshot parity with the batch operator).
    * State per key is one open session (start, end, aggregates) —
    * bounded — and the watermark evicts sessions whose close has
    * settled. */
  def streamingSessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"),
        col("total_value"))

  /** Streaming dedup of late duplicate events within the watermark. */
  def streamingDedup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(Seq("event_id"))

  // Click/purchase side projections and the attribution join are shared
  // verbatim between the streaming form (watermarked inputs) and the
  // oracle-checked batch form st05 — the join predicate tested against
  // DuckDB is, by construction, the one the streaming query runs.
  private def clickSide(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))

  private def buySide(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("ts").as("buy_ts"),
        col("event_id").as("buy_id"))

  private def attributionJoin(buys: DataFrame, clicks: DataFrame,
      joinType: String = "inner"): DataFrame =
    buys.join(clicks,
      col("b_user") === col("c_user") &&
        col("click_ts") <= col("buy_ts") &&
        col("click_ts") >= col("buy_ts") - expr("INTERVAL 1 HOUR"),
      joinType)
      .select(col("buy_id"), col("click_id"), col("b_user").as("user_id"),
        col("buy_ts"), col("click_ts"))

  /** Stream-stream inner join: every purchase attributed to the same
    * user's clicks in the preceding hour. Both sides carry watermarks
    * and the join condition bounds event time on both ends, so state
    * for expired clicks/purchases is dropped — the join runs forever in
    * bounded memory (the unbounded-state stream join is the classic
    * 100 TB streaming failure mode). */
  def streamingClickAttribution(events: DataFrame): DataFrame =
    attributionJoin(
      buySide(events).withWatermark("buy_ts", "1 hour"),
      clickSide(events).withWatermark("click_ts", "1 hour"))

  /** The attribution join applied to an arbitrary BOUNDED events frame
    * — the batch twin of [[streamingClickAttribution]] over the same
    * side projections and predicate, exposed so StreamingSpec can
    * replay it on staged micro-batch data and compare row-for-row. */
  def clickAttributionBatch(events: DataFrame): DataFrame =
    attributionJoin(buySide(events), clickSide(events))

  /** st05: the attribution join's batch form over the bounded events
    * table — same side projections, same predicate, no watermarks —
    * which makes the stream-stream join's semantics oracle-checkable
    * as a plain interval join in DuckDB. */
  def st05ClickAttribution(spark: SparkSession, dir: String): DataFrame =
    clickAttributionBatch(Tables(spark, dir, "events"))
      .orderBy(col("buy_id"), col("click_id"))

  val st05Sql: String =
    """SELECT b.event_id AS buy_id, c.event_id AS click_id, b.user_id,
      | b.ts AS buy_ts, c.ts AS click_ts
      |FROM events b JOIN events c
      |  ON b.user_id = c.user_id
      | AND b.event_type = 'purchase' AND c.event_type = 'click'
      | AND c.ts <= b.ts AND c.ts >= b.ts - INTERVAL '1 hour'
      |ORDER BY buy_id, click_id""".stripMargin

  /** st07: the attribution join's LEFT OUTER batch form — purchases
    * with no qualifying click survive with null click columns (the
    * "unattributed conversions" question). Same side projections and
    * predicate as st05/the streaming forms; the outer rows are the only
    * difference, so the oracle pins exactly the null-extension
    * semantics the streaming outer join must reproduce. */
  def st07UnattributedBuys(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    attributionJoin(buySide(ev), clickSide(ev), joinType = "left_outer")
      .orderBy(col("buy_id"), col("click_id"))
  }

  val st07Sql: String =
    """SELECT b.event_id AS buy_id, c.event_id AS click_id, b.user_id,
      | b.ts AS buy_ts, c.ts AS click_ts
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') b
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON b.user_id = c.user_id
      | AND c.ts <= b.ts AND c.ts >= b.ts - INTERVAL '1 hour'
      |ORDER BY buy_id, click_id""".stripMargin

  /** The st07 semantics as a streaming query: a watermarked LEFT OUTER
    * stream-stream join. Outer (null-extended) rows for a purchase
    * emit only once the click-side watermark passes the join window's
    * upper bound — so a bounded replay that ends without advancing the
    * watermark past the last events holds back the final outer rows
    * (StreamingSpec asserts exactly this: inner rows match the batch
    * join; emitted outer rows are a prefix of the batch outer set). */
  def streamingUnattributedBuys(events: DataFrame): DataFrame =
    attributionJoin(
      buySide(events).withWatermark("buy_ts", "1 hour"),
      clickSide(events).withWatermark("click_ts", "1 hour"),
      joinType = "left_outer")

  /** st06: per-(user, event_type, hour) throttle — keep only the
    * earliest event in each bucket (the dedup/rate-limit primitive:
    * "at most one notification per user per type per hour"). The
    * batch form is deterministic — ROW_NUMBER over the total order
    * (ts, event_id) — which is exactly the semantics the streaming
    * sibling [[streamingThrottle]] approximates with
    * `dropDuplicatesWithinWatermark` (first *arrival* wins there;
    * with in-order arrival the two agree, which StreamingSpec
    * asserts). One shuffle on the bucket key; at 100 TB the state per
    * streaming key is one row and expires with the watermark. */
  def st06EventThrottle(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables(spark, dir, "events")
      .withColumn("hour_start", date_trunc("hour", col("ts")))
    val w = Window
      .partitionBy(col("user_id"), col("event_type"), col("hour_start"))
      .orderBy(col("ts"), col("event_id"))
    ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("hour_start"),
        col("event_id").as("first_event_id"), col("ts").as("first_ts"))
      .orderBy(col("user_id"), col("event_type"), col("hour_start"))
  }

  val st06Sql: String =
    """SELECT user_id, event_type, hour_start,
      | event_id AS first_event_id, ts AS first_ts
      |FROM (
      |  SELECT user_id, event_type, date_trunc('hour', ts) AS hour_start,
      |    event_id, ts,
      |    ROW_NUMBER() OVER (
      |      PARTITION BY user_id, event_type, date_trunc('hour', ts)
      |      ORDER BY ts, event_id) AS rn
      |  FROM events)
      |WHERE rn = 1
      |ORDER BY user_id, event_type, hour_start""".stripMargin

  /** The st06 throttle as a streaming query: state keyed on
    * (user, type, hour bucket), each key kept only until the watermark
    * passes the bucket — bounded state forever, unlike a plain
    * `dropDuplicates` whose key set grows without bound. */
  def streamingThrottle(events: DataFrame): DataFrame =
    events
      .withColumn("hour_start", date_trunc("hour", col("ts")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(
        Seq("user_id", "event_type", "hour_start"))

  /** st08: dense-hour gap fill — a complete hour axis with explicit
    * zero rows for silent hours (st01's groupBy can only report hours
    * that HAVE events; a monitoring/report consumer needs the gaps).
    * The grid comes from `sequence(min, max, 1 hour)` + explode — one
    * tiny array on one row, exploded and joined against the per-hour
    * partial-aggregated counts; even a decade of hours is ~90k grid
    * rows, so the grid side is always broadcastable. (A recursive-CTE
    * grid was investigated and rejected: Spark 4.1 executes each
    * recursion step as its own iteration — ~0.15 s/step, 100+ s for a
    * 720-hour grid — and recursive UNION-distinct, needed for cyclic
    * closures, is unsupported. `sequence()` is the Spark-native answer;
    * at sf0.001 189 of 720 hours are genuinely silent.) */
  def st08GapFill(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val bounds = ev.agg(
      date_trunc("hour", min(col("ts"))).as("h0"),
      date_trunc("hour", max(col("ts"))).as("h1"))
    val grid = bounds.select(
      explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour_start"))
    val counts = ev
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"))
      .agg(count(lit(1)).as("n"))
    grid.join(counts, Seq("hour_start"), "left")
      .select(col("hour_start"),
        coalesce(col("n"), lit(0L)).as("n_events"))
      .orderBy(col("hour_start"))
  }

  val st08Sql: String =
    """WITH b AS (
      |  SELECT date_trunc('hour', MIN(ts)) AS h0,
      |         date_trunc('hour', MAX(ts)) AS h1 FROM events
      |), grid AS (
      |  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR))
      |    AS hour_start FROM b
      |), counts AS (
      |  SELECT date_trunc('hour', ts) AS hour_start, COUNT(*) AS n
      |  FROM events GROUP BY 1
      |)
      |SELECT g.hour_start, COALESCE(c.n, 0) AS n_events
      |FROM grid g LEFT JOIN counts c USING (hour_start)
      |ORDER BY g.hour_start""".stripMargin

  /** st09: per-window top-k — the standard streaming-dashboard ask
    * ("top event types each hour"): tumbling-window counts, then a rank
    * within each window, top 2 kept with a deterministic tiebreak
    * (count desc, event_type). In a live stream the windowed counts run
    * incrementally and the rank is applied per emitted window — Spark
    * disallows rank() directly on a streaming aggregate, so the
    * streaming form ranks inside `foreachBatch` (or emits complete-mode
    * counts and lets the sink rank); the window-then-rank plan here is
    * that exact computation in batch form. One shuffle for the count,
    * one narrow per-window sort over K event types. */
  def st09TopEventsHourly(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"))
    val w = Window.partitionBy(col("hour_start"))
      .orderBy(col("n").desc, col("event_type"))
    counts
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= 2)
      .orderBy(col("hour_start"), col("rk"))
  }

  val st09Sql: String =
    """WITH counts AS (
      |  SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start,
      |    event_type, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2
      |)
      |SELECT hour_start, event_type, n,
      |  rk
      |FROM (
      |  SELECT *, row_number() OVER (PARTITION BY hour_start
      |    ORDER BY n DESC, event_type) AS rk
      |  FROM counts)
      |WHERE rk <= 2 ORDER BY hour_start, rk""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("st09_top_events_hourly", st09TopEventsHourly, Some(st09Sql)),
    Query("st01_tumbling_hourly", st01TumblingHourly, Some(st01Sql)),
    Query("st02_sliding_windows", st02SlidingWindows, Some(st02Sql)),
    Query("st03_session_windows", st03SessionWindows, Some(st03Sql)),
    Query("st04_windowed_distinct", st04WindowedDistinct, Some(st04Sql)),
    Query("st05_click_attribution", st05ClickAttribution, Some(st05Sql)),
    Query("st06_event_throttle", st06EventThrottle, Some(st06Sql)),
    Query("st07_unattributed_buys", st07UnattributedBuys, Some(st07Sql)),
    Query("st08_gap_fill", st08GapFill, Some(st08Sql)),
  )
}
