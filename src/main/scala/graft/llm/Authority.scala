package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Graph-authority scoring for corpus curation — the signal web-scale
  * pipelines use to weight or filter sources before training (link
  * authority à la PageRank, Page et al. 1999; seeded trust propagation
  * à la TrustRank, Gyöngyi et al., VLDB '04). The reference's surface
  * has no graph operator at all (`/root/reference/R/DataFrameOperationR.R`
  * delegates everything to per-row scripts); these extend the engine the
  * same way the dedup/ANN family does — as first-class, oracle-checked
  * queries.
  *
  * The graph is the bipartite interaction graph from `events`: a user
  * node per `user_id`, an item node per `props.k`, an undirected edge
  * per distinct (user, item) click pair (items live at `nid =
  * 1000000 + k` so one BIGINT id space holds both sides). Rank updates
  * run in pure BIGINT arithmetic — per-edge contribution is `qr div
  * degree`, the damped update is `base + (85 * Σcontrib) div 100` with
  * `base = floor(0.15·2²⁰)` — so every iteration is an
  * order-independent integer sum, bit-reproducible engine-to-engine
  * (the same determinism contract as [[Similarity.s02IvfTopK]]'s
  * quantized centroids; floor losses only bleed mass, never reorder
  * ranks nondeterministically).
  *
  * 100 TB posture: each iteration is exactly one shuffle (join
  * contributions to edges on `src`, partial-aggregated groupBy on
  * `dst`) — the Pregel message-passing shape with NO driver-side
  * state, so rank state lives in executors and scales with the
  * cluster. Edges and degrees are computed once and
  * `localCheckpoint`ed: iterations reuse the materialized graph
  * instead of re-deriving the distinct-pairs shuffle per round (on a
  * real cluster the same role is played by a reliable checkpoint,
  * which also truncates the O(iters) lineage). Every node with an
  * edge has degree ≥ 1 in both directions — the undirected bipartite
  * walk has no dangling-mass case to special-handle.
  */
object Authority {

  private val ItemBase = 1000000L

  /** Distinct (user, item) click edges, both directions, materialized
    * once for the iterations. */
  private def graph(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    graphFrom(clickEvents(spark, dir))

  /** The click-event source rows feeding the graph — exposed so g04
    * can carve "yesterday's log" vs "tonight's append" out of the same
    * relation. */
  private def clickEvents(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .filter(col("event_type") === "click")

  private def graphFrom(clickRows: DataFrame): (DataFrame, DataFrame) = {
    val clicks = clickRows
      .select(col("user_id").as("u"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      // explicit contract for events with no props.k: dropped, on BOTH
      // engines (the oracle mirrors this with a regexp_matches guard).
      // Without the guard the engines fail differently — Spark would
      // group a null item node, DuckDB errors casting '' to BIGINT.
      .filter(col("k").isNotNull)
      .distinct()
    val edges = clicks.select(col("u").as("src"), (col("k") + ItemBase).as("dst"))
      .unionAll(clicks.select((col("k") + ItemBase).as("src"), col("u").as("dst")))
      .localCheckpoint()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .localCheckpoint()
    (edges, deg)
  }

  /** `iters` damped-update rounds. `init` is the per-node starting
    * mass (over `deg`'s `src`), `base` the per-node teleport term
    * (over the aggregate's `dst`) — uniform for PageRank, seed-only
    * for TrustRank. */
  private[graft] def propagate(edges: DataFrame, deg: DataFrame,
      init: Column, base: Column, iters: Int): DataFrame =
    propagateFrom(edges, deg,
      deg.select(col("src").as("nid"), init.as("qr")), base, iters)

  /** [[propagate]] from an ARBITRARY starting rank frame `(nid, qr)` —
    * what a warm start resumes from ([[g04WarmStartPageRank]]). */
  private[graft] def propagateFrom(edges: DataFrame, deg: DataFrame,
      ranks0: DataFrame, base: Column, iters: Int): DataFrame = {
    var ranks = ranks0
    for (_ <- 1 to iters) {
      val contrib = ranks.join(deg, col("nid") === col("src"))
        .select(col("nid"), expr("qr div d").as("c"))
      ranks = edges.join(contrib, edges("src") === contrib("nid"))
        .groupBy(col("dst"))
        .agg((base + expr("(85 * sum(c)) div 100")).as("qr"))
        .select(col("dst").as("nid"), col("qr"))
    }
    ranks
  }

  private def present(ranks: DataFrame): DataFrame =
    ranks.select(
      when(col("nid") >= ItemBase, lit("item")).otherwise(lit("user"))
        .as("node_type"),
      when(col("nid") >= ItemBase, col("nid") - ItemBase).otherwise(col("nid"))
        .as("node_id"),
      col("qr").as("qrank"))
      .orderBy(col("qrank").desc, col("node_type").asc, col("node_id").asc)

  /** g01: 3-round damped PageRank over the click graph — every node
    * starts at 2²⁰, uniform teleport. */
  def g01PageRank(spark: SparkSession, dir: String): DataFrame = {
    val (edges, deg) = graph(spark, dir)
    present(propagate(edges, deg, lit(1048576L), lit(157286L), iters = 3))
  }

  /** g02: TrustRank — mass starts on (and teleports only to) the ten
    * vetted item nodes `k < 10`; three propagation rounds spread trust
    * over the interaction neighborhood. Sources far from any seed end
    * near zero — the corpus-curation read is "down-weight documents
    * whose interaction neighborhood no trusted seed can reach". */
  def g02TrustRank(spark: SparkSession, dir: String): DataFrame = {
    val (edges, deg) = graph(spark, dir)
    val seedLo = ItemBase
    val seedHi = ItemBase + 9L
    val init = when(col("src").between(seedLo, seedHi), lit(1048576L))
      .otherwise(lit(0L))
    val base = when(col("dst").between(seedLo, seedHi), lit(157286L))
      .otherwise(lit(0L))
    present(propagate(edges, deg, init, base, iters = 3))
  }

  /** g03: HITS hubs/authorities (Kleinberg, JACM '99) over the DIRECTED
    * user→item half of the click graph — the complement to g01/g02's
    * random-walk ranks: a user is a good hub if they click
    * high-authority items, an item a good authority if good hubs click
    * it. Two full mutual-reinforcement rounds; after every half-step
    * scores renormalize to `s·10⁶ DIV max(s)` (max-normalization — the
    * integer stand-in for HITS' L2 step: scale-free ranking is
    * preserved exactly, and the rescale product runs in DECIMAL/HUGEINT
    * so `raw_sum·10⁶` cannot overflow a Long at any degree).
    *
    * 100 TB posture: each half-step is one broadcast-free join+agg
    * shuffle (the Pregel shape, like [[propagate]]) plus a 1-row max
    * frame broadcast; the click list is localCheckpoint'ed once. */
  def g03Hits(spark: SparkSession, dir: String): DataFrame = {
    val clicks = Tables(spark, dir, "events")
      .filter(col("event_type") === "click")
      .select(col("user_id").as("u"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .filter(col("k").isNotNull) // same no-props.k contract as [[graph]]
      .distinct()
      .localCheckpoint()
    def renorm(raw: DataFrame, key: String, out: String): DataFrame = {
      val mx = raw.agg(max(col("s")).as("mx"))
      raw.crossJoin(broadcast(mx)).select(col(key),
        expr("cast(cast(s as decimal(20,0)) * 1000000 div mx as bigint)")
          .as(out))
    }
    var hubs = clicks.select(col("u")).distinct()
      .withColumn("h", lit(1000000L))
    var auths: DataFrame = null
    for (_ <- 1 to 2) {
      auths = renorm(clicks.join(hubs, "u")
        .groupBy(col("k")).agg(sum(col("h")).as("s")), "k", "a")
      hubs = renorm(clicks.join(auths, "k")
        .groupBy(col("u")).agg(sum(col("a")).as("s")), "u", "h")
    }
    hubs.select(lit("user").as("node_type"), col("u").as("node_id"),
        col("h").as("score"))
      .unionAll(auths.select(lit("item").as("node_type"),
        col("k").as("node_id"), col("a").as("score")))
      .orderBy(col("score").desc, col("node_type").asc, col("node_id").asc)
  }

  /** Shared oracle scaffolding: the click graph and degree CTEs. The
    * `k` extraction is the q28 regexp form (engine-identical on this
    * JSON shape); `//` is DuckDB's integer division, matching Spark's
    * `div` on these all-positive values. */
  private def graphCte: String =
    """WITH c0 AS (
      |  SELECT DISTINCT user_id AS u,
      |    CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
      |  FROM events WHERE event_type = 'click'
      |    AND regexp_matches(props, '"k": [0-9]+')
      |), edges AS (
      |  SELECT u AS src, 1000000 + k AS dst FROM c0
      |  UNION ALL
      |  SELECT 1000000 + k AS src, u AS dst FROM c0
      |), deg AS (
      |  SELECT src, COUNT(*) AS d FROM edges GROUP BY src
      |)""".stripMargin

  /** One unrolled damped round: `rPrev` → a new rank CTE body, over
    * the named edge/degree relations (g04 runs rounds over TWO graphs
    * in one statement). */
  private def roundSql(prev: String, baseSql: String,
      edgesRel: String = "edges", degRel: String = "deg"): String =
    s"""  SELECT e.dst AS nid,
       |    CAST($baseSql + (85 * SUM(r.qr // d.d)) // 100 AS BIGINT) AS qr
       |  FROM $edgesRel e JOIN $prev r ON e.src = r.nid
       |  JOIN $degRel d ON e.src = d.src
       |  GROUP BY e.dst""".stripMargin

  private def presentSqlFrom(rel: String): String =
    s"""SELECT
       |  CASE WHEN nid >= 1000000 THEN 'item' ELSE 'user' END AS node_type,
       |  CAST(CASE WHEN nid >= 1000000 THEN nid - 1000000 ELSE nid END
       |    AS BIGINT) AS node_id,
       |  qr AS qrank
       |FROM $rel ORDER BY qrank DESC, node_type, node_id""".stripMargin

  private val presentSql = presentSqlFrom("r3")

  private def rankSql(initSql: String, baseSql: String): String =
    graphCte +
      s""", r0 AS (
         |  SELECT src AS nid, CAST($initSql AS BIGINT) AS qr FROM deg
         |), r1 AS (
         |${roundSql("r0", baseSql)}
         |), r2 AS (
         |${roundSql("r1", baseSql)}
         |), r3 AS (
         |${roundSql("r2", baseSql)}
         |)
         |$presentSql""".stripMargin

  val g01Sql: String = rankSql("1048576", "157286")

  val g02Sql: String = rankSql(
    "CASE WHEN src BETWEEN 1000000 AND 1000009 THEN 1048576 ELSE 0 END",
    "CASE WHEN e.dst BETWEEN 1000000 AND 1000009 THEN 157286 ELSE 0 END")

  /** g03 oracle: the same two unrolled mutual-reinforcement rounds;
    * raw sums cast to BIGINT (mirroring Spark's Long sums), the rescale
    * product in HUGEINT (mirroring the DECIMAL(20,0) product). */
  val g03Sql: String =
    """WITH c0 AS (
      |  SELECT DISTINCT user_id AS u,
      |    CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
      |  FROM events WHERE event_type = 'click'
      |    AND regexp_matches(props, '"k": [0-9]+')
      |), h0 AS (
      |  SELECT DISTINCT u, CAST(1000000 AS BIGINT) AS h FROM c0
      |), a1r AS (
      |  SELECT k, CAST(SUM(h) AS BIGINT) AS s FROM c0 JOIN h0 USING (u) GROUP BY k
      |), a1 AS (
      |  SELECT k, CAST(CAST(s AS HUGEINT) * 1000000
      |    // (SELECT MAX(s) FROM a1r) AS BIGINT) AS a FROM a1r
      |), h1r AS (
      |  SELECT u, CAST(SUM(a) AS BIGINT) AS s FROM c0 JOIN a1 USING (k) GROUP BY u
      |), h1 AS (
      |  SELECT u, CAST(CAST(s AS HUGEINT) * 1000000
      |    // (SELECT MAX(s) FROM h1r) AS BIGINT) AS h FROM h1r
      |), a2r AS (
      |  SELECT k, CAST(SUM(h) AS BIGINT) AS s FROM c0 JOIN h1 USING (u) GROUP BY k
      |), a2 AS (
      |  SELECT k, CAST(CAST(s AS HUGEINT) * 1000000
      |    // (SELECT MAX(s) FROM a2r) AS BIGINT) AS a FROM a2r
      |), h2r AS (
      |  SELECT u, CAST(SUM(a) AS BIGINT) AS s FROM c0 JOIN a2 USING (k) GROUP BY u
      |), h2 AS (
      |  SELECT u, CAST(CAST(s AS HUGEINT) * 1000000
      |    // (SELECT MAX(s) FROM h2r) AS BIGINT) AS h FROM h2r
      |)
      |SELECT node_type, node_id, score FROM (
      |  SELECT 'user' AS node_type, u AS node_id, h AS score FROM h2
      |  UNION ALL
      |  SELECT 'item' AS node_type, k AS node_id, a AS score FROM a2
      |) ORDER BY score DESC, node_type, node_id""".stripMargin

  // ---------------------------------------------------------------- g04

  private[graft] val prScores = graft.io.Artifact("pagerank-scores")

  /** g04's log split: "yesterday's interaction log" (the scores
    * artifact was computed over it) vs "tonight's event append". */
  private val isNewEvent = col("event_id") % 10 === 6

  /** Fingerprint parts of the click events matching each of `preds`
    * ([[graft.io.ArtifactStore.partsWhere]], one scan), so the scores
    * artifacts compose with the rest of the artifact layer. */
  private def eventParts(events: DataFrame,
      preds: Column*): Seq[(Long, Long)] =
    graft.io.ArtifactStore.partsWhere(events,
      xxhash64(col("event_id"), col("user_id"), col("props")), preds)

  /** The persisted rank-scores artifact: yesterday's 3-round PageRank
    * over the old graph, stored `(nid, qr)` — built at most once per
    * corpus, fingerprinted over the old click events' content. */
  private def pageRankScoresBase(spark: SparkSession, dir: String): String = {
    lazy val old = clickEvents(spark, dir).filter(!isNewEvent)
    prScores.ensure(dir)(eventParts(old, lit(true)).head) { staging =>
      val (e, d) = graphFrom(old)
      propagate(e, d, lit(1048576L), lit(157286L), iters = 3)
        .coalesce(4).write.mode("overwrite").parquet(s"$staging/scores")
    }
  }

  private val scoresSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("nid",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("qr",
      org.apache.spark.sql.types.LongType)))

  /** g04: WARM-START PageRank on graph growth — the authority twin of
    * the incremental index updates (s16/s17/d18): tonight's events
    * extend the click graph, and instead of recomputing authority
    * from scratch the job RESUMES from the stored scores (the
    * persisted artifact yesterday's run wrote), giving new nodes the
    * uniform starting mass and running two refinement rounds over the
    * grown graph. This is the standard production posture for
    * evolving-graph PageRank (restart iteration from the previous
    * fixed point — converges in a fraction of the cold-start rounds
    * because the old scores are already near the new fixed point);
    * everything stays exact BIGINT arithmetic, so the oracle replays
    * the whole two-phase history (old-graph rounds → warm init →
    * full-graph rounds) and the hash must match. The spec pins
    * build-once: repeat runs never re-pay yesterday's rounds. */
  def g04WarmStartPageRank(spark: SparkSession, dir: String): DataFrame = {
    val base = pageRankScoresBase(spark, dir)
    val stored = spark.read.schema(scoresSchema).parquet(s"$base/scores")
    val (edges, deg) = graph(spark, dir) // the grown (full) graph
    val warm = deg.select(col("src").as("nid"))
      .join(stored, Seq("nid"), "left")
      .select(col("nid"),
        coalesce(col("qr"), lit(1048576L)).as("qr"))
    present(propagateFrom(edges, deg, warm, lit(157286L), iters = 2))
  }

  /** g04 oracle: both graphs in one statement — 3 rounds over the old
    * graph (what the artifact stores), a warm init over the full
    * graph's nodes (stored score or uniform mass), 2 rounds over the
    * full graph. */
  val g04Sql: String = {
    val oldGraph =
      """WITH c0o AS (
        |  SELECT DISTINCT user_id AS u,
        |    CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
        |  FROM events WHERE event_type = 'click'
        |    AND regexp_matches(props, '"k": [0-9]+') AND event_id % 10 <> 6
        |), edgeso AS (
        |  SELECT u AS src, 1000000 + k AS dst FROM c0o
        |  UNION ALL
        |  SELECT 1000000 + k AS src, u AS dst FROM c0o
        |), dego AS (
        |  SELECT src, COUNT(*) AS d FROM edgeso GROUP BY src
        |), c0 AS (
        |  SELECT DISTINCT user_id AS u,
        |    CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
        |  FROM events WHERE event_type = 'click'
        |    AND regexp_matches(props, '"k": [0-9]+')
        |), edges AS (
        |  SELECT u AS src, 1000000 + k AS dst FROM c0
        |  UNION ALL
        |  SELECT 1000000 + k AS src, u AS dst FROM c0
        |), deg AS (
        |  SELECT src, COUNT(*) AS d FROM edges GROUP BY src
        |)""".stripMargin
    oldGraph +
      s""", r0 AS (
         |  SELECT src AS nid, CAST(1048576 AS BIGINT) AS qr FROM dego
         |), r1 AS (
         |${roundSql("r0", "157286", "edgeso", "dego")}
         |), r2 AS (
         |${roundSql("r1", "157286", "edgeso", "dego")}
         |), r3 AS (
         |${roundSql("r2", "157286", "edgeso", "dego")}
         |), w0 AS (
         |  SELECT deg.src AS nid,
         |    CAST(coalesce(r3.qr, 1048576) AS BIGINT) AS qr
         |  FROM deg LEFT JOIN r3 ON deg.src = r3.nid
         |), w1 AS (
         |${roundSql("w0", "157286")}
         |), w2 AS (
         |${roundSql("w1", "157286")}
         |)
         |${presentSqlFrom("w2")}""".stripMargin
  }

  // ---------------------------------------------------------------- g05

  /** Δ1: last night's event append — already folded into the rolled
    * scores by the time tonight's run starts. G0 = everything older
    * ([[isNewEvent]] Δ2 stays tonight's batch, as in g04). */
  private val isGen1Event = col("event_id") % 10 === 7

  private[graft] val rollScores = graft.io.Artifact("pagerank-roll")

  /** The ROLLING scores artifact ("pagerank-roll", separate from g04's
    * read-only "pagerank-scores" so g04 stays a valid single-step
    * control): each night's refresh both CONSUMES the standing scores
    * and REPLACES them. [[graft.io.Artifact.ensureIncremental]]'s
    * state machine does the roll: already at fp(G1) → nothing (every
    * repeat run); at fp(G0) → warm-refine in place; absent/stale → cold
    * bootstrap over G0 then the refine. The refine step reads the live
    * `scores`, localCheckpoints them (materialized BEFORE the overwrite
    * — reading lazily from a directory you are replacing would race the
    * delete), warm-starts 2 rounds over G1 and writes back; the marker
    * is down for the duration, so a crash mid-roll reads as invalid and
    * rebuilds rather than serving half-rolled scores. */
  private def rollScoresBase(spark: SparkSession, dir: String): String = {
    lazy val g1 = clickEvents(spark, dir).filter(!isNewEvent)
    // G0 and Δ1 = G1 \ G0 are disjoint: one scan, fp(G1) derived
    lazy val Seq(g0Parts, d1Parts) = eventParts(g1, !isGen1Event, isGen1Event)
    rollScores.ensureIncremental(dir)(g0Parts, d1Parts) { staging =>
      val (e, d) = graphFrom(
        clickEvents(spark, dir).filter(!isNewEvent && !isGen1Event))
      propagate(e, d, lit(1048576L), lit(157286L), iters = 3)
        .coalesce(4).write.mode("overwrite")
        .parquet(s"$staging/scores")
    } { live =>
      val stored = spark.read.schema(scoresSchema)
        .parquet(s"$live/scores").localCheckpoint()
      val (e, d) = graphFrom(g1)
      val warm = d.select(col("src").as("nid"))
        .join(stored, Seq("nid"), "left")
        .select(col("nid"),
          coalesce(col("qr"), lit(1048576L)).as("qr"))
      propagateFrom(e, d, warm, lit(157286L), iters = 2)
        .coalesce(4).write.mode("overwrite")
        .parquet(s"$live/scores")
    }
  }

  /** g05: ROLLING authority refresh — the missing half of g04's
    * warm-start story. g04 CONSUMES a stored fixed point but never
    * writes one back; a real nightly authority job is a cycle — each
    * run resumes from the previous night's scores AND persists the
    * refined scores for tomorrow (the posture of every production
    * evolving-graph PageRank: the score table is itself the rolling
    * artifact, exactly as the IVF/BM25/LSH indexes are for s16/s17/
    * d19). Here the cycle runs twice: the stored artifact bootstraps
    * cold over G0 (two nights ago, 3 rounds), last night's roll folds
    * Δ1 in (2 warm rounds over G1 = G0∪Δ1, REPLACING the scores under
    * the new fingerprint), and tonight's serve warm-starts 2 rounds
    * over the full graph G2 = G1∪Δ2 from the rolled scores. Every
    * update stays exact BIGINT, so the oracle replays the entire
    * three-generation history (3 cold + 2 warm + 2 warm rounds across
    * three graphs in one statement) and the hash must match. The spec
    * pins roll-once: repeat runs neither rebuild nor re-roll — they
    * read fp(G1) and pay only the serving rounds.
    *
    * 100 TB posture: per night the job pays 2 Pregel-shaped rounds
    * over the current graph (each one join+agg shuffle) plus one
    * scores-table read/write — never the full from-scratch iteration
    * count, and never a rescan of history (the generation fingerprints
    * come from the event log's own content). */
  def g05RollingPageRank(spark: SparkSession, dir: String): DataFrame = {
    val base = rollScoresBase(spark, dir)
    val stored = spark.read.schema(scoresSchema).parquet(s"$base/scores")
    val (edges, deg) = graph(spark, dir) // tonight's full graph (G2)
    val warm = deg.select(col("src").as("nid"))
      .join(stored, Seq("nid"), "left")
      .select(col("nid"),
        coalesce(col("qr"), lit(1048576L)).as("qr"))
    present(propagateFrom(edges, deg, warm, lit(157286L), iters = 2))
  }

  /** One generation's graph CTE triple (`c0$sfx`/`edges$sfx`/
    * `deg$sfx`) over the click events passing `filterSql` — g05's
    * oracle builds three of these in one WITH-list. */
  private def genGraphCte(sfx: String, filterSql: String): String =
    s"""c0$sfx AS (
       |  SELECT DISTINCT user_id AS u,
       |    CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
       |  FROM events WHERE event_type = 'click'
       |    AND regexp_matches(props, '"k": [0-9]+')$filterSql
       |), edges$sfx AS (
       |  SELECT u AS src, 1000000 + k AS dst FROM c0$sfx
       |  UNION ALL
       |  SELECT 1000000 + k AS src, u AS dst FROM c0$sfx
       |), deg$sfx AS (
       |  SELECT src, COUNT(*) AS d FROM edges$sfx GROUP BY src
       |)""".stripMargin

  /** g05 oracle: the full three-generation history in one statement —
    * 3 cold rounds over G0 (the bootstrap build), warm init + 2 rounds
    * over G1 (the persisted roll), warm init + 2 rounds over G2 (the
    * serve). Each stage is the replay of its Spark twin. */
  val g05Sql: String =
    "WITH " + genGraphCte("a", "\n    AND event_id % 10 NOT IN (6, 7)") +
      ", " + genGraphCte("b", "\n    AND event_id % 10 <> 6") +
      ", " + genGraphCte("", "") +
      s""", r0 AS (
         |  SELECT src AS nid, CAST(1048576 AS BIGINT) AS qr FROM dega
         |), r1 AS (
         |${roundSql("r0", "157286", "edgesa", "dega")}
         |), r2 AS (
         |${roundSql("r1", "157286", "edgesa", "dega")}
         |), r3 AS (
         |${roundSql("r2", "157286", "edgesa", "dega")}
         |), v0 AS (
         |  SELECT degb.src AS nid,
         |    CAST(coalesce(r3.qr, 1048576) AS BIGINT) AS qr
         |  FROM degb LEFT JOIN r3 ON degb.src = r3.nid
         |), v1 AS (
         |${roundSql("v0", "157286", "edgesb", "degb")}
         |), v2 AS (
         |${roundSql("v1", "157286", "edgesb", "degb")}
         |), w0 AS (
         |  SELECT deg.src AS nid,
         |    CAST(coalesce(v2.qr, 1048576) AS BIGINT) AS qr
         |  FROM deg LEFT JOIN v2 ON deg.src = v2.nid
         |), w1 AS (
         |${roundSql("w0", "157286")}
         |), w2 AS (
         |${roundSql("w1", "157286")}
         |)
         |${presentSqlFrom("w2")}""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("g01_pagerank", g01PageRank, Some(g01Sql)),
    Query("g02_trustrank", g02TrustRank, Some(g02Sql)),
    Query("g03_hits", g03Hits, Some(g03Sql)),
    Query("g04_warm_pagerank", g04WarmStartPageRank, Some(g04Sql)),
    Query("g05_rolling_pagerank", g05RollingPageRank, Some(g05Sql)),
  )
}
