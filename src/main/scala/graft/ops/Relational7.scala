package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Seventh wave: the two relational shapes a reference user's analytics
  * backlog still lacked — ordered funnel attribution over the event log
  * and iterative transitive closure over an edge table (the
  * recursive-CTE family, which Spark has no native operator for).
  * Reference provenance: the user-script algebra delegated by
  * `/root/reference/R/DataFrameOperationR.R` (executeScript/execute,
  * :420-470) — these are workloads such scripts compute that the engine
  * expresses as first-class plans. */
object Relational7 {

  private def sql(spark: SparkSession, dir: String, text: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(text)
  }

  /** q71: ordered conversion funnel — per user, the earliest `view`,
    * the earliest `click` AFTER that view within the conversion window,
    * and the earliest `purchase` after that click within the window;
    * the reached stage is the funnel report every growth dashboard
    * computes. Ordering constraints make this NOT expressible as one
    * conditional aggregate: each stage's window depends on the previous
    * stage's result, so the plan chains three whole-partition
    * conditional-min window passes over the SAME (user_id) partitioning
    * — ONE keyed exchange of the event log total (q67's one-exchange
    * pattern), then the final per-user aggregate reuses that
    * partitioning. Identical SQL text through Catalyst and DuckDB;
    * timestamps are micro-aligned at every SF so the strict `>` and the
    * closed `<=` window edges agree bit-exactly. The 8-hour window is
    * what makes the stage column discriminate on the fixture (sf0.01:
    * 124 view / 23 click / 3 purchase). */
  def q71Funnel(spark: SparkSession, dir: String): DataFrame =
    sql(spark, dir, q71Sql)

  val q71Sql: String =
    """WITH w1 AS (
      |  SELECT user_id, event_type, ts,
      |    MIN(CASE WHEN event_type = 'view' THEN ts END)
      |      OVER (PARTITION BY user_id) AS t_view
      |  FROM events
      |), w2 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t_view
      |      AND ts <= t_view + INTERVAL 8 HOUR THEN ts END)
      |      OVER (PARTITION BY user_id) AS t_click
      |  FROM w1
      |), w3 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t_click
      |      AND ts <= t_click + INTERVAL 8 HOUR THEN ts END)
      |      OVER (PARTITION BY user_id) AS t_purchase
      |  FROM w2
      |)
      |SELECT user_id,
      |  CASE WHEN MIN(t_purchase) IS NOT NULL THEN 'purchase'
      |       WHEN MIN(t_click) IS NOT NULL THEN 'click'
      |       WHEN MIN(t_view) IS NOT NULL THEN 'view'
      |       ELSE 'none' END AS stage,
      |  MIN(t_view) AS t_view, MIN(t_click) AS t_click,
      |  MIN(t_purchase) AS t_purchase
      |FROM w3 GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q72: transitive closure by pointer doubling — every (node,
    * ancestor, distance) pair of the supplier hierarchy (parent(n) =
    * n DIV 2, a synthetic but generically-shaped edge table the engine
    * must treat as opaque edges). Spark has no recursive CTE, so the
    * closure is iterative; the algorithm is the SCALE choice: each
    * round squares the known-path relation (join closure with itself on
    * `a.anc = b.node`), so round k holds every pair of distance ≤ 2^k —
    * **O(log depth) shuffle rounds**, not the O(depth) of naive
    * frontier expansion (at a 100 TB graph with depth 10^3, that is ~10
    * joins instead of ~1000). The rounds run through
    * [[graft.Checkpoints.converge]]: each snaps to a `localCheckpoint`
    * so lineage stays flat, and convergence is a driver-side count of
    * newly found pairs (d07's contract: scalars cross the driver, never
    * rows). In a tree each (node, ancestor) pair has exactly one
    * distance, so the per-round grouping on (node, anc, dist) both
    * dedups the doubled sums and makes the output total-ordered by
    * (node, dist). The oracle is DuckDB's
    * native `WITH RECURSIVE` — linear recursion; set equality against
    * the doubled enumeration is the semantic proof. */
  def q72Ancestors(spark: SparkSession, dir: String): DataFrame = {
    val edges = Tables(spark, dir, "supplier")
      .filter(col("s_suppkey") >= 1)
      .select(col("s_suppkey").as("node"),
        expr("s_suppkey DIV 2").as("anc"),
        lit(1L).as("dist"))
      .localCheckpoint()
    // a tree with e edges is at most e deep, and round k closes every
    // path of length ≤ 2^k: ⌈log₂ e⌉ doubling rounds, + 2 of slack.
    // Running out means the edges are not a tree.
    val e = edges.count()
    val log2e = 64 - java.lang.Long.numberOfLeadingZeros(math.max(e - 1, 0))
    graft.Checkpoints.converge(edges, log2e + 2) { closure =>
      val doubled = closure.as("a")
        .join(closure.as("b"), col("a.anc") === col("b.node"))
        .select(col("a.node").as("node"), col("b.anc").as("anc"),
          (col("a.dist") + col("b.dist")).as("dist"))
      // a row is changed when the doubling found it first
      closure.withColumn(graft.Checkpoints.Changed, lit(false))
        .unionByName(doubled.withColumn(graft.Checkpoints.Changed, lit(true)))
        .groupBy(col("node"), col("anc"), col("dist"))
        .agg(min(col(graft.Checkpoints.Changed))
          .as(graft.Checkpoints.Changed))
    }.orderBy(col("node"), col("dist"))
  }

  val q72Sql: String =
    """WITH RECURSIVE e AS (
      |  SELECT s_suppkey AS node, s_suppkey // 2 AS parent
      |  FROM supplier WHERE s_suppkey >= 1
      |), anc AS (
      |  SELECT node, parent AS anc, 1 AS dist FROM e
      |  UNION ALL
      |  SELECT a.node, e.parent, a.dist + 1 FROM anc a JOIN e ON e.node = a.anc
      |)
      |SELECT node, anc, CAST(dist AS BIGINT) AS dist FROM anc
      |ORDER BY node, dist""".stripMargin

  /** q74: exact weighted median — per brand, the lowest price at which
    * the cumulative quantity reaches half the brand's total (the
    * lower-median convention). q47 interpolates PLAIN percentiles; a
    * weighted quantile is a different operator (every SQL engine lacks
    * a native one) and the standard exact form is this cumulative-
    * weight selection: one brand-keyed exchange serves the ordered
    * cumulative window, the whole-partition total and the two
    * row_number passes; no value arithmetic happens on doubles except
    * SELECTION, and the summed quantities are integer-valued doubles
    * (exact in any accumulation order), so both engines agree
    * bit-for-bit on identical SQL text. The (price, okey, ln) order
    * key is unique, making ROWS/RANGE frames equivalent and the
    * tie-break total. */
  def q74WeightedMedian(spark: SparkSession, dir: String): DataFrame =
    sql(spark, dir, q74Sql)

  val q74Sql: String =
    """WITH base AS (
      |  SELECT p.p_brand AS brand, l.l_extendedprice AS price,
      |    l.l_quantity AS qty, l.l_orderkey AS okey, l.l_linenumber AS ln
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |), cum AS (
      |  SELECT brand, price, qty,
      |    SUM(qty) OVER (PARTITION BY brand ORDER BY price, okey, ln
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
      |    SUM(qty) OVER (PARTITION BY brand) AS tw,
      |    ROW_NUMBER() OVER (PARTITION BY brand
      |      ORDER BY price, okey, ln) AS rn0
      |  FROM base
      |), med AS (
      |  SELECT brand, price, tw,
      |    ROW_NUMBER() OVER (PARTITION BY brand ORDER BY rn0) AS pick
      |  FROM cum WHERE 2 * cw >= tw
      |)
      |SELECT brand, price AS weighted_median_price,
      |  CAST(tw AS BIGINT) AS total_qty
      |FROM med WHERE pick = 1
      |ORDER BY brand""".stripMargin

  /** q75: median absolute deviation — per brand, the exact lower-median
    * price and the lower-median of |price − median|: THE robust
    * dispersion statistic (a training pipeline gates outliers on
    * MAD-based robust z-scores where stddev is wrecked by the very
    * outliers it should catch; q40's moment stats are the fragile
    * counterpart). Exact selection, not interpolation: both medians
    * pick row `floor((n+1)/2)` of a deterministically ordered
    * partition — `CAST(floor((n+1)/2.0) AS BIGINT)` is the one
    * integer-halving spelling both engines parse identically (Spark
    * has `div` but DuckDB spells it `//`). Doubles are only
    * subtracted once (identical operands both engines) and otherwise
    * SELECTED. Plan: the median is ATTACHED to every row with a
    * conditional window max over the same brand partition (`max(case
    * when rn = target then price end) over (partition by brand)`), so
    * the base join is scanned once and there is no median join-back —
    * a join-back form that recomputed base for the deviation pass
    * benched 6.2 s; this single pipeline (two brand window passes on
    * one exchange chain) runs ~2.5 s. */
  def q75MedianAbsDev(spark: SparkSession, dir: String): DataFrame =
    sql(spark, dir, q75Sql)

  val q75Sql: String =
    """WITH base AS (
      |  SELECT p.p_brand AS brand, l.l_extendedprice AS price,
      |    l.l_orderkey AS okey, l.l_linenumber AS ln
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |), c1 AS (
      |  SELECT brand, price, okey, ln,
      |    ROW_NUMBER() OVER (PARTITION BY brand
      |      ORDER BY price, okey, ln) AS rn,
      |    COUNT(*) OVER (PARTITION BY brand) AS n
      |  FROM base
      |), withmed AS (
      |  SELECT brand, price, okey, ln,
      |    MAX(CASE WHEN rn = CAST(floor((n + 1) / 2.0) AS BIGINT)
      |      THEN price END) OVER (PARTITION BY brand) AS median_price
      |  FROM c1
      |), c2 AS (
      |  SELECT brand, median_price,
      |    abs(price - median_price) AS dev,
      |    ROW_NUMBER() OVER (PARTITION BY brand
      |      ORDER BY abs(price - median_price), okey, ln) AS rn,
      |    COUNT(*) OVER (PARTITION BY brand) AS n
      |  FROM withmed
      |)
      |SELECT brand, median_price, dev AS mad_price FROM c2
      |WHERE rn = CAST(floor((n + 1) / 2.0) AS BIGINT)
      |ORDER BY brand""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("q71_funnel", q71Funnel, Some(q71Sql)),
    Query("q72_closure", q72Ancestors, Some(q72Sql)),
    Query("q74_weighted_median", q74WeightedMedian, Some(q74Sql)),
    Query("q75_mad", q75MedianAbsDev, Some(q75Sql)),
  )
}
