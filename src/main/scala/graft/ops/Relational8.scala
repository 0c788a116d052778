package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{Query, Tables}

/** Eighth wave: three relational shapes still missing from the
  * inventory's analytics backlog — the TPC-H Q2 "min-cost supplier"
  * correlated-subquery pattern, a rolling COUNT(DISTINCT) over a
  * time-range frame (an operator Spark has no native window form for),
  * and interval-overlap peak concurrency via a sweep line (the
  * self-join-free way to answer "how many were open at once").
  * Reference provenance: the user-script algebra delegated by
  * `/root/reference/R/DataFrameOperationR.R` (executeScript/execute,
  * :420-470) — workloads such scripts compute that the engine
  * expresses as first-class plans. */
object Relational8 {

  private def sql(spark: SparkSession, dir: String, text: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(text)
  }

  /** q76: min-cost supplier per part — the TPC-H Q2 shape, adapted to
    * this schema (no partsupp table, so the supply-cost relation is
    * derived: per (part, supplier) the minimum observed unit price in
    * lineitem). The load-bearing pattern is the correlated scalar
    * subquery with its own multi-way dim join: for each part, keep only
    * suppliers achieving the REGIONAL minimum cost, where the minimum
    * itself requires the supplier→nation→region chain. Catalyst
    * rewrites the correlated MIN into a de-correlated aggregate +
    * join (no per-row re-execution), the three dim joins broadcast,
    * and the only big shuffle is the (part, supplier) pre-aggregate of
    * lineitem — identical SQL text through Catalyst and DuckDB.
    * `unit_cost` divides identical double operands in both engines and
    * is then only MIN-selected and equality-compared, so the float
    * round-trip is bit-exact. */
  def q76MinCostSupplier(spark: SparkSession, dir: String): DataFrame =
    sql(spark, dir, q76Sql)

  val q76Sql: String =
    """WITH supply AS (
      |  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
      |    MIN(l_extendedprice / l_quantity) AS unit_cost
      |  FROM lineitem GROUP BY l_partkey, l_suppkey
      |)
      |SELECT p.p_partkey AS partkey, p.p_brand AS brand,
      |  s.s_name AS supp_name, n.n_name AS nation,
      |  sp.unit_cost AS min_cost
      |FROM supply sp
      |JOIN part p ON p.p_partkey = sp.partkey
      |JOIN supplier s ON s.s_suppkey = sp.suppkey
      |JOIN nation n ON n.n_nationkey = s.s_nationkey
      |JOIN region r ON r.r_regionkey = n.n_regionkey
      |WHERE r.r_name = 'EUROPE' AND p.p_size <= 25
      |  AND sp.unit_cost = (
      |    SELECT MIN(sp2.unit_cost) FROM supply sp2
      |    JOIN supplier s2 ON s2.s_suppkey = sp2.suppkey
      |    JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
      |    JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
      |    WHERE sp2.partkey = p.p_partkey AND r2.r_name = 'EUROPE')
      |ORDER BY partkey, supp_name""".stripMargin

  /** q77: rolling 7-day distinct-supplier count per part. Spark has no
    * COUNT(DISTINCT) window function, so the engine composes it:
    * dedup to (part, day, supplier) grain first (one exchange, and the
    * dedup means multiplicities never inflate the frame), then
    * `size(collect_set(supplier))` over a RANGE BETWEEN 6 PRECEDING
    * frame on the day number — the set dedups inside the frame, and
    * only its SIZE leaves the operator, so per-row state is bounded by
    * the true distinct count (tiny: suppliers per part per week), not
    * the frame row count (CPU-wise a non-invertible aggregate
    * re-accumulates per frame — the same cost the oracle's native
    * windowed DISTINCT pays). Two keyed exchanges total: the dedup's
    * composite-key aggregate, then the window's partkey partitioning.
    * ScaleDesignSpec pins the contract on a skewed frame: 10k-row
    * multiplicity on one part collapses to ≤ days×suppliers window
    * input and ≤ true-distinct set state, and the plan proves the
    * window consumes the deduped grain. ESCAPE HATCH if a key's
    * distinct-per-frame count ever stops being tiny (say, >10³
    * suppliers per part-week): keep the daily grain but window an
    * INVERTIBLE pair instead of the set — per (part, day) emit
    * `n_new` (suppliers whose previous sighting is >6 days back, via
    * one lag over (part, supplier)) and `n_expired` symmetrical, then
    * supp_7d is a running sum of deltas — O(1) state per row, two
    * window passes on the same partitioning. Declined while the
    * bound-pin holds (NOTES.md): the set form is one pass and the
    * fixture's true bound is single-digit.
    * The oracle is DuckDB's native windowed
    * COUNT(DISTINCT) over the identical frame — an engine-native
    * cross-check of the composed form. Day numbers are exact integers
    * on the micro-aligned fixture timestamps. */
  def q77RollingDistinct(spark: SparkSession, dir: String): DataFrame = {
    val daily = graft.Tables(spark, dir, "lineitem")
      .select(col("l_partkey").as("partkey"),
        datediff(to_date(col("l_shipdate")), lit("1992-01-01").cast("date"))
          .cast(LongType).as("d"),
        col("l_suppkey").as("suppkey"))
      .distinct()
    val w = Window.partitionBy(col("partkey")).orderBy(col("d"))
      .rangeBetween(-6, Window.currentRow)
    daily
      .withColumn("supp_7d", size(collect_set(col("suppkey")).over(w))
        .cast(LongType))
      .select(col("partkey"), col("d"), col("supp_7d"))
      .distinct()
      .orderBy(col("partkey"), col("d"))
  }

  val q77Sql: String =
    """WITH daily AS (
      |  SELECT DISTINCT l_partkey AS partkey,
      |    date_diff('day', TIMESTAMP '1992-01-01', l_shipdate) AS d,
      |    l_suppkey AS suppkey
      |  FROM lineitem
      |)
      |SELECT DISTINCT partkey, d,
      |  COUNT(DISTINCT suppkey) OVER (PARTITION BY partkey ORDER BY d
      |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS supp_7d
      |FROM daily
      |ORDER BY partkey, d""".stripMargin

  /** q78: peak concurrent open orders per nation — interval overlap by
    * sweep line. An order is "open" from its order date through its
    * last shipment day; the naive answer self-joins intervals
    * (O(n²) and a non-equi join), the scale answer never joins:
    * each interval emits +1 at start and −1 the day after it closes,
    * a (nation, day) pre-aggregate collapses the deltas (map-side
    * combine takes the shuffle to at most one row per nation-day), and
    * a running sum over the one nation-keyed exchange is the live
    * open-order count; its per-nation max is the peak. `first_peak_d`
    * (earliest day attaining the peak) comes from a conditional min
    * against a whole-partition window max on the SAME exchange — no
    * join-back. This is q63/q67's one-exchange discipline applied to
    * the classic interval-concurrency question. */
  def q78PeakConcurrent(spark: SparkSession, dir: String): DataFrame = {
    val epoch = lit("1992-01-01").cast("date")
    val iv = graft.Tables(spark, dir, "orders").as("o")
      .join(graft.Tables(spark, dir, "lineitem").as("l"),
        col("l.l_orderkey") === col("o.o_orderkey"))
      .join(Tables(spark, dir, "customer").as("c"),
        col("c.c_custkey") === col("o.o_custkey"))
      .groupBy(col("o.o_orderkey"), col("c.c_nationkey").as("nationkey"),
        datediff(to_date(col("o.o_orderdate")), epoch).cast(LongType)
          .as("start_d"))
      .agg(max(datediff(to_date(col("l.l_shipdate")), epoch).cast(LongType))
        .as("raw_end_d"))
      // synthetic dates can ship "before" ordering — clamp so every
      // interval is at least the one-day [start, start]
      .withColumn("end_d", greatest(col("raw_end_d"), col("start_d")))
    val deltas = iv.select(col("nationkey"), col("start_d").as("d"),
        lit(1L).as("delta"))
      .unionByName(iv.select(col("nationkey"),
        (col("end_d") + 1L).as("d"), lit(-1L).as("delta")))
    val byDay = deltas.groupBy(col("nationkey"), col("d"))
      .agg(sum(col("delta")).as("day_delta"))
    val run = Window.partitionBy(col("nationkey")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(col("nationkey"))
    val swept = byDay
      .withColumn("open_orders", sum(col("day_delta")).over(run))
      .withColumn("peak", max(col("open_orders")).over(whole))
    val perNation = swept
      .groupBy(col("nationkey"))
      .agg(max(col("peak")).as("peak_open"),
        min(when(col("open_orders") === col("peak"), col("d")))
          .as("first_peak_d"))
    perNation
      .join(broadcast(Tables(spark, dir, "nation")),
        col("n_nationkey") === col("nationkey"))
      .select(col("n_name").as("nation"), col("peak_open"),
        col("first_peak_d"))
      .orderBy(col("nation"))
  }

  val q78Sql: String =
    """WITH iv AS (
      |  SELECT o.o_orderkey, c.c_nationkey AS nationkey,
      |    date_diff('day', TIMESTAMP '1992-01-01', o.o_orderdate) AS start_d,
      |    GREATEST(MAX(date_diff('day', TIMESTAMP '1992-01-01', l.l_shipdate)),
      |      date_diff('day', TIMESTAMP '1992-01-01', o.o_orderdate)) AS end_d
      |  FROM orders o
      |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON c.c_custkey = o.o_custkey
      |  GROUP BY o.o_orderkey, c.c_nationkey, o.o_orderdate
      |), deltas AS (
      |  SELECT nationkey, start_d AS d, 1 AS delta FROM iv
      |  UNION ALL
      |  SELECT nationkey, end_d + 1, -1 FROM iv
      |), byday AS (
      |  SELECT nationkey, d, CAST(SUM(delta) AS BIGINT) AS day_delta
      |  FROM deltas GROUP BY nationkey, d
      |), run AS (
      |  SELECT nationkey, d,
      |    CAST(SUM(day_delta) OVER (PARTITION BY nationkey ORDER BY d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS open_orders
      |  FROM byday
      |), swept AS (
      |  SELECT nationkey, d, open_orders,
      |    MAX(open_orders) OVER (PARTITION BY nationkey) AS peak
      |  FROM run
      |)
      |SELECT n.n_name AS nation, CAST(MAX(s.peak) AS BIGINT) AS peak_open,
      |  MIN(CASE WHEN s.open_orders = s.peak THEN s.d END) AS first_peak_d
      |FROM swept s JOIN nation n ON n.n_nationkey = s.nationkey
      |GROUP BY n.n_name ORDER BY nation""".stripMargin

  /** q79: mergeable quantile summaries — the percentile counterpart of
    * q64's mergeable-HLL rollup. Each month builds a fixed-size summary
    * (every ⌈n/32⌉-th order statistic of price cents, plus the max —
    * ≤ 33 `(value, rank)` points however big the month is); the merge
    * phase never touches raw rows again: candidate values are the
    * summaries' values, a candidate's estimated global rank is the sum
    * over months of the largest summarized rank at-or-below it, and the
    * p-quantile estimate is the smallest candidate whose estimated rank
    * reaches ⌈p·N⌉. That is the stored-sketch pattern a 100 TB pipeline
    * needs for percentile dashboards: per-partition summaries persist,
    * rollups cost O(partitions · 33), and re-aggregation to any
    * grouping is summary algebra — the `s.cents <= c.v` merge join is
    * quadratic in SUMMARY size, not data size (whitelisted as such in
    * the plan lint). The guarantee is checked IN the result: per-month
    * sampling can under-count a true rank by < step, so the true rank
    * of the estimate r(v*) satisfies 0 ≤ r(v*) − est(v*) < Σ steps and
    * r(v*) ≥ target — emitted as `b*_sample_err`/`b*_reached`
    * booleans, alongside the exact-selection percentile the estimate
    * must sit at-or-above (`b*_not_below`); a sketch bug flips a
    * boolean and breaks the oracle hash. The exact companion's global
    * ROW_NUMBER is the one single-partition window in the query — it
    * exists ONLY to make the guarantee hashable at verify SF; the
    * production path at 100 TB is the summary algebra alone (drop the
    * `exact`/`ranks` CTEs), whose widest frame is the per-month
    * summary. Both engines run the same template — only the
    * integer-division spelling differs (Spark `DIV` truncates, DuckDB
    * `//` floors; every operand here is nonnegative so they agree).
    * The GROUPED form with the telescoped (non-quadratic) merge is
    * [[q80GroupedQuantiles]]. */
  def q79QuantileSketch(spark: SparkSession, dir: String): DataFrame = {
    // PRODUCTION (benched) shape: the summary algebra alone — one
    // corpus scan builds the per-month summaries; everything after is
    // summary-sized. The exact-percentile companion (a global
    // ROW_NUMBER over the corpus) exists only to make the guarantee
    // hashable and lives in [[q79Verified]], which the correctness
    // dump overlays (the q35 convention): the bench measures the
    // operator, not its verification harness — the exact companion
    // made this bench line a documented 2.1-4.5 s noise magnet
    // (PERF.md r7-r9; ADVICE r9 #3).
    val (_, tot, _, pick, er) = q79Frames(spark, dir)
    tot.crossJoin(pick).crossJoin(er)
      .select(col("n_total"), col("err_bound"), col("t50"), col("t90"),
        col("est_p50"), col("er50"), col("est_p90"), col("er90"))
  }

  /** The shared q79 frames: `(base, tot, est, pick, er)` — the corpus
    * projection, the 1-row totals, the telescoped summary ranks, the
    * picked estimates and their estimated ranks. One corpus scan
    * (summary build); every later frame is summary-sized.
    *
    * DataFrame form, for the same reason as [[q80GroupedQuantiles]]:
    * Spark inlines CTEs, so the template's repeated `base`/`summ`/
    * `est` references re-ran the corpus scan+window per reference
    * (9.5 s in full-suite context); here the summary-sized frames
    * checkpoint once. The ORACLE runs the original multi-reference
    * template — an independent derivation the hash compare checks
    * this plan against. */
  private def q79Frames(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val base = graft.Tables(spark, dir, "lineitem")
      .select(date_trunc("month", col("l_shipdate")).as("mon"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
        col("l_orderkey").as("okey"), col("l_linenumber").as("ln"))
    val wSort = Window.partitionBy(col("mon"))
      .orderBy(col("cents"), col("okey"), col("ln"))
    val wAll = Window.partitionBy(col("mon"))
    val summ = base
      .withColumn("rn", row_number().over(wSort).cast(LongType))
      .withColumn("n_m", count(lit(1)).over(wAll))
      .withColumn("step", expr("CAST(ceil(n_m / 32.0) AS BIGINT)"))
      .filter((col("rn") - 1) % col("step") === 0 || col("rn") === col("n_m"))
      .select(col("mon"), col("cents"), col("rn"), col("n_m"), col("step"))
      .localCheckpoint()
    val tot = summ.groupBy(col("mon"))
      .agg(max(col("n_m")).as("n_m"), max(col("step")).as("step"))
      .agg(sum(col("n_m")).as("n_total"), sum(col("step")).as("err_bound"))
      .withColumn("t50", expr("(n_total + 1) DIV 2"))
      .withColumn("t90", expr("(9 * n_total + 9) DIV 10"))
    // telescoped est ranks (q80's trick); the global summary is a few
    // thousand rows, so its single-partition prefix window is
    // summary-sized by construction
    val wDelta = Window.partitionBy(col("mon")).orderBy(col("rn"))
    val wCum = Window.orderBy(col("cents"), col("mon"), col("rn"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val est = summ
      .withColumn("delta",
        col("rn") - coalesce(lag(col("rn"), 1).over(wDelta), lit(0L)))
      .withColumn("cum", sum(col("delta")).over(wCum))
      .groupBy(col("cents")).agg(max(col("cum")).as("est_rank"))
      .withColumnRenamed("cents", "v")
      .localCheckpoint()
    // checkpoint at definition: er, the verified companion and the
    // final select all reuse the one materialized 1-row frame
    val pick = est.crossJoin(broadcast(tot))
      .agg(min(when(col("est_rank") >= col("t50"), col("v")))
        .as("est_p50"),
        min(when(col("est_rank") >= col("t90"), col("v"))).as("est_p90"))
      .localCheckpoint()
    val er = est.crossJoin(broadcast(pick))
      .agg(max(when(col("v") === col("est_p50"), col("est_rank")))
        .as("er50"),
        max(when(col("v") === col("est_p90"), col("est_rank"))).as("er90"))
    (base, tot, est, pick, er)
  }

  /** Verify-mode shape (registered as `verify`, the q35
    * convention): the production estimates joined against an exact
    * companion computed in one extra corpus pass — the global
    * ROW_NUMBER selection plus the true ranks of the picked estimates
    * — reduced to the sampling-guarantee booleans the oracle hashes
    * against its own replay. A sketch bug flips a boolean and fails
    * the hash; the production (benched) plan never pays this pass. */
  def q79Verified(spark: SparkSession, dir: String): DataFrame = {
    val (base, tot, _, pick, er) = q79Frames(spark, dir)
    val wGlobal = Window.orderBy(col("cents"), col("okey"), col("ln"))
    val verified = base.crossJoin(broadcast(tot)).crossJoin(broadcast(pick))
      .withColumn("grn", row_number().over(wGlobal).cast(LongType))
      .agg(max(when(col("grn") === col("t50"), col("cents")))
        .as("exact_p50"),
        max(when(col("grn") === col("t90"), col("cents"))).as("exact_p90"),
        sum(when(col("cents") <= col("est_p50"), 1L).otherwise(0L))
          .as("r50"),
        sum(when(col("cents") <= col("est_p90"), 1L).otherwise(0L))
          .as("r90"))
    tot.crossJoin(pick).crossJoin(verified).crossJoin(er)
      .select(col("n_total"), col("err_bound"), col("t50"), col("t90"),
        col("est_p50"), col("exact_p50"), col("r50"), col("er50"),
        (col("r50") >= col("t50")).as("b50_reached"),
        (col("r50") - col("er50") >= 0 &&
          col("r50") - col("er50") < col("err_bound")).as("b50_sample_err"),
        (col("est_p50") >= col("exact_p50")).as("b50_not_below"),
        col("est_p90"), col("exact_p90"), col("r90"), col("er90"),
        (col("r90") >= col("t90")).as("b90_reached"),
        (col("r90") - col("er90") >= 0 &&
          col("r90") - col("er90") < col("err_bound")).as("b90_sample_err"),
        (col("est_p90") >= col("exact_p90")).as("b90_not_below"))
  }

  val q79Sql: String = quantileSketchSql("//")

  private def quantileSketchSql(d: String): String =
    s"""WITH base AS (
       |  SELECT date_trunc('month', l_shipdate) AS mon,
       |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
       |    l_orderkey AS okey, l_linenumber AS ln
       |  FROM lineitem
       |), w1 AS (
       |  SELECT mon, cents,
       |    ROW_NUMBER() OVER (PARTITION BY mon ORDER BY cents, okey, ln) AS rn,
       |    COUNT(*) OVER (PARTITION BY mon) AS n_m
       |  FROM base
       |), summ AS (
       |  SELECT mon, cents, rn, n_m,
       |    CAST(ceil(n_m / 32.0) AS BIGINT) AS step
       |  FROM w1
       |  WHERE (rn - 1) % CAST(ceil(n_m / 32.0) AS BIGINT) = 0 OR rn = n_m
       |), months AS (
       |  SELECT mon, MAX(n_m) AS n_m, MAX(step) AS step FROM summ GROUP BY mon
       |), tot AS (
       |  SELECT CAST(SUM(n_m) AS BIGINT) AS n_total,
       |    CAST(SUM(step) AS BIGINT) AS err_bound
       |  FROM months
       |), cand AS (SELECT DISTINCT cents AS v FROM summ
       |), est AS (
       |  SELECT v, CAST(SUM(mx) AS BIGINT) AS est_rank FROM (
       |    SELECT c.v, s.mon, MAX(s.rn) AS mx
       |    FROM cand c JOIN summ s ON s.cents <= c.v
       |    GROUP BY c.v, s.mon)
       |  GROUP BY v
       |), pick AS (
       |  SELECT
       |    (SELECT MIN(e.v) FROM est e CROSS JOIN tot
       |      WHERE e.est_rank >= (n_total + 1) $d 2) AS est_p50,
       |    (SELECT MIN(e.v) FROM est e CROSS JOIN tot
       |      WHERE e.est_rank >= (9 * n_total + 9) $d 10) AS est_p90
       |), exact AS (
       |  SELECT
       |    MAX(CASE WHEN grn = (SELECT (n_total + 1) $d 2 FROM tot)
       |      THEN cents END) AS exact_p50,
       |    MAX(CASE WHEN grn = (SELECT (9 * n_total + 9) $d 10 FROM tot)
       |      THEN cents END) AS exact_p90
       |  FROM (SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, okey, ln) AS grn
       |        FROM base)
       |), ranks AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN b.cents <= est_p50 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS r50,
       |    CAST(SUM(CASE WHEN b.cents <= est_p90 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS r90,
       |    (SELECT est_rank FROM est JOIN pick ON est.v = pick.est_p50) AS er50,
       |    (SELECT est_rank FROM est JOIN pick ON est.v = pick.est_p90) AS er90
       |  FROM base b CROSS JOIN pick
       |)
       |SELECT t.n_total, t.err_bound,
       |  (t.n_total + 1) $d 2 AS t50, (9 * t.n_total + 9) $d 10 AS t90,
       |  p.est_p50, x.exact_p50, r.r50, r.er50,
       |  r.r50 >= (t.n_total + 1) $d 2 AS b50_reached,
       |  r.r50 - r.er50 >= 0 AND r.r50 - r.er50 < t.err_bound AS b50_sample_err,
       |  p.est_p50 >= x.exact_p50 AS b50_not_below,
       |  p.est_p90, x.exact_p90, r.r90, r.er90,
       |  r.r90 >= (9 * t.n_total + 9) $d 10 AS b90_reached,
       |  r.r90 - r.er90 >= 0 AND r.r90 - r.er90 < t.err_bound AS b90_sample_err,
       |  p.est_p90 >= x.exact_p90 AS b90_not_below
       |FROM tot t CROSS JOIN pick p CROSS JOIN exact x CROSS JOIN ranks r""".stripMargin

  /** q80: GROUPED mergeable quantile rollup — q79's claim ("summaries
    * re-aggregate to any grouping") as code: per-(brand, month)
    * summaries (16 order-statistic points each) merge per BRAND into a
    * per-brand median estimate, every phase keyed by brand — the
    * summary merge is a brand-equi join with a tiny in-group band
    * filter, so the whole rollup shuffles summary rows, never data
    * rows, and re-grouping the same stored summaries by month, year or
    * brand-prefix is the same query with a different key. Unlike q79
    * there are no scalar subqueries: every stage is a grouped
    * aggregate/join, which is both the scale shape (no single-row
    * frames to synchronize on) and what lets ONE plan serve 25 brands.
    * The same per-group sampling guarantee (target reached, rank error
    * under Σ steps, estimate at/above the exact selection) is emitted
    * as per-brand booleans the oracle hashes. */
  def q80GroupedQuantiles(spark: SparkSession, dir: String): DataFrame = {
    // PRODUCTION (benched) shape: per-brand summary algebra alone —
    // ONE corpus scan (summary build), everything downstream
    // summary-sized. The exact per-brand selection + rank check (two
    // more corpus passes) live in [[q80Verified]], overlaid by the
    // correctness dump only (q35/q79 convention; ADVICE r9 #3).
    val (_, tot, _, pick, er) = q80Frames(spark, dir)
    tot.join(pick, "brand").join(er, "brand")
      .select(col("brand"), col("n_total"), col("err_bound"), col("t50"),
        col("est_p50"), col("er50"))
      .orderBy(col("brand"))
  }

  /** The shared q80 frames: `(base, tot, est, pick, er)`, every
    * post-`base` frame brand-keyed and summary-sized.
    *
    * Spark inlines WITH-CTEs, so the template's repeated references
    * to `summ`/`est`/`pick` would each re-run the corpus join+window
    * behind them (first cut: 16 s at sf0.1). The DataFrame form
    * materializes the SUMMARY-SIZED frames once (localCheckpoint —
    * thousands of rows however large the corpus; harness releases the
    * blocks post-query). Result-identical to the oracle template by
    * construction. */
  private def q80Frames(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val li = graft.Tables(spark, dir, "lineitem").as("l")
    val base = li.join(Tables(spark, dir, "part").as("p"),
        col("p.p_partkey") === col("l.l_partkey"))
      .select(col("p.p_brand").as("brand"),
        date_trunc("month", col("l.l_shipdate")).as("mon"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
        col("l.l_orderkey").as("okey"), col("l.l_linenumber").as("ln"))
    val wSort = Window.partitionBy(col("brand"), col("mon"))
      .orderBy(col("cents"), col("okey"), col("ln"))
    val wAll = Window.partitionBy(col("brand"), col("mon"))
    val w1 = base
      .withColumn("rn", row_number().over(wSort).cast(LongType))
      .withColumn("n_m", count(lit(1)).over(wAll))
      .withColumn("step", expr("CAST(ceil(n_m / 16.0) AS BIGINT)"))
    val summ = w1
      .filter((col("rn") - 1) % col("step") === 0 || col("rn") === col("n_m"))
      .select(col("brand"), col("mon"), col("cents"), col("rn"),
        col("n_m"), col("step"))
      .localCheckpoint()
    val tot = summ.groupBy(col("brand"), col("mon"))
      .agg(max(col("n_m")).as("n_m"), max(col("step")).as("step"))
      .groupBy(col("brand"))
      .agg(sum(col("n_m")).as("n_total"), sum(col("step")).as("err_bound"))
      .withColumn("t50", expr("(n_total + 1) DIV 2"))
    // est_rank(v) = Σ_months max(rn at cents ≤ v) — computed NOT with
    // the candidate×summary band join (quadratic in summary size; at
    // sf0.1's 2100 (brand,month) groups that was 50M joined rows and
    // 10+ s) but by telescoping: within a month the max-rn-below-v is
    // the sum of successive rn increments of the points at-or-below v,
    // so ONE brand-ordered prefix sum over all points yields every
    // candidate's rank, with the last row among cents-ties carrying
    // the complete sum. O(S log S) in summary size. The ORACLE keeps
    // the direct band-join formulation — an independent derivation the
    // hash compare checks this telescoping against.
    val wDelta = Window.partitionBy(col("brand"), col("mon"))
      .orderBy(col("rn"))
    val wCum = Window.partitionBy(col("brand"))
      .orderBy(col("cents"), col("mon"), col("rn"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val est = summ
      .withColumn("delta",
        col("rn") - coalesce(lag(col("rn"), 1).over(wDelta), lit(0L)))
      .withColumn("cum", sum(col("delta")).over(wCum))
      .groupBy(col("brand"), col("cents"))
      .agg(max(col("cum")).as("est_rank"))
      .withColumnRenamed("cents", "v")
      .localCheckpoint()
    val pick = est.as("e")
      .join(tot.as("t"), col("t.brand") === col("e.brand"))
      .filter(col("e.est_rank") >= col("t.t50"))
      .groupBy(col("e.brand").as("brand"))
      .agg(min(col("e.v")).as("est_p50"))
      .localCheckpoint()
    val er = est.as("e")
      .join(pick.as("k"), col("k.brand") === col("e.brand") &&
        col("k.est_p50") === col("e.v"))
      .select(col("e.brand").as("brand"), col("e.est_rank").as("er50"))
    (base, tot, est, pick, er)
  }

  /** Verify-mode shape (registered as `verify`): the per-brand estimates
    * joined against the exact per-brand selection and the true ranks
    * of the picks — one extra corpus pass the production plan never
    * pays — reduced to per-brand guarantee booleans the oracle hashes. */
  def q80Verified(spark: SparkSession, dir: String): DataFrame = {
    val (base, tot, _, pick, er) = q80Frames(spark, dir)
    val wBrand = Window.partitionBy(col("brand"))
      .orderBy(col("cents"), col("okey"), col("ln"))
    // exact companion + rank check share ONE base pass: broadcast the
    // 25-row targets/picks onto the rows, one brand window, one agg
    val verified = base
      .join(broadcast(tot.select(col("brand"), col("t50"))), "brand")
      .join(broadcast(pick), "brand")
      .withColumn("grn", row_number().over(wBrand).cast(LongType))
      .groupBy(col("brand"))
      .agg(max(when(col("grn") === col("t50"), col("cents")))
        .as("exact_p50"),
        sum(when(col("cents") <= col("est_p50"), 1L).otherwise(0L))
          .as("r50"))
    tot
      .join(pick, "brand").join(verified, "brand")
      .join(er, "brand")
      .select(col("brand"), col("n_total"), col("err_bound"), col("t50"),
        col("est_p50"), col("exact_p50"), col("r50"), col("er50"),
        (col("r50") >= col("t50")).as("b_reached"),
        (col("r50") - col("er50") >= 0 &&
          col("r50") - col("er50") < col("err_bound")).as("b_sample_err"),
        (col("est_p50") >= col("exact_p50")).as("b_not_below"))
      .orderBy(col("brand"))
  }

  val q80Sql: String = groupedQuantileSql("//")

  private def groupedQuantileSql(d: String): String =
    s"""WITH base AS (
       |  SELECT p.p_brand AS brand, date_trunc('month', l.l_shipdate) AS mon,
       |    CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents,
       |    l.l_orderkey AS okey, l.l_linenumber AS ln
       |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
       |), w1 AS (
       |  SELECT brand, mon, cents,
       |    ROW_NUMBER() OVER (PARTITION BY brand, mon
       |      ORDER BY cents, okey, ln) AS rn,
       |    COUNT(*) OVER (PARTITION BY brand, mon) AS n_m
       |  FROM base
       |), summ AS (
       |  SELECT brand, mon, cents, rn, n_m,
       |    CAST(ceil(n_m / 16.0) AS BIGINT) AS step
       |  FROM w1
       |  WHERE (rn - 1) % CAST(ceil(n_m / 16.0) AS BIGINT) = 0 OR rn = n_m
       |), pm AS (
       |  SELECT brand, mon, MAX(n_m) AS n_m, MAX(step) AS step
       |  FROM summ GROUP BY brand, mon
       |), tot AS (
       |  SELECT brand, CAST(SUM(n_m) AS BIGINT) AS n_total,
       |    CAST(SUM(step) AS BIGINT) AS err_bound
       |  FROM pm GROUP BY brand
       |), cand AS (SELECT DISTINCT brand, cents AS v FROM summ
       |), est AS (
       |  SELECT brand, v, CAST(SUM(mx) AS BIGINT) AS est_rank FROM (
       |    SELECT c.brand, c.v, s.mon, MAX(s.rn) AS mx
       |    FROM cand c JOIN summ s ON s.brand = c.brand AND s.cents <= c.v
       |    GROUP BY c.brand, c.v, s.mon)
       |  GROUP BY brand, v
       |), pick AS (
       |  SELECT e.brand, MIN(e.v) AS est_p50
       |  FROM est e JOIN tot t ON t.brand = e.brand
       |  WHERE e.est_rank >= (t.n_total + 1) $d 2
       |  GROUP BY e.brand
       |), er AS (
       |  SELECT e.brand, e.est_rank AS er50
       |  FROM est e JOIN pick k ON k.brand = e.brand AND k.est_p50 = e.v
       |), exact AS (
       |  SELECT brand, MAX(CASE WHEN grn = t50 THEN cents END) AS exact_p50
       |  FROM (
       |    SELECT w.brand, w.cents,
       |      ROW_NUMBER() OVER (PARTITION BY w.brand
       |        ORDER BY w.cents, w.okey, w.ln) AS grn,
       |      (t.n_total + 1) $d 2 AS t50
       |    FROM base w JOIN tot t ON t.brand = w.brand)
       |  GROUP BY brand
       |), rk AS (
       |  SELECT b.brand,
       |    CAST(SUM(CASE WHEN b.cents <= k.est_p50 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS r50
       |  FROM base b JOIN pick k ON k.brand = b.brand
       |  GROUP BY b.brand
       |)
       |SELECT t.brand, t.n_total, t.err_bound, (t.n_total + 1) $d 2 AS t50,
       |  k.est_p50, x.exact_p50, r.r50, e.er50,
       |  r.r50 >= (t.n_total + 1) $d 2 AS b_reached,
       |  r.r50 - e.er50 >= 0 AND r.r50 - e.er50 < t.err_bound AS b_sample_err,
       |  k.est_p50 >= x.exact_p50 AS b_not_below
       |FROM tot t JOIN pick k ON k.brand = t.brand
       |JOIN exact x ON x.brand = t.brand
       |JOIN rk r ON r.brand = t.brand
       |JOIN er e ON e.brand = t.brand
       |ORDER BY t.brand""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("q80_grouped_quantiles", q80GroupedQuantiles,
      Some(q80Sql), verify = Some(q80Verified)),
    Query("q76_min_cost_supplier", q76MinCostSupplier, Some(q76Sql)),
    Query("q77_rolling_distinct", q77RollingDistinct, Some(q77Sql)),
    Query("q78_peak_concurrent", q78PeakConcurrent, Some(q78Sql)),
    Query("q79_quantile_sketch", q79QuantileSketch,
      Some(q79Sql), verify = Some(q79Verified)),
  )
}
