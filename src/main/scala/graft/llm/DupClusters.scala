package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query

/** Near-duplicate *clustering*: turn pairwise near-dup edges into
  * connected components so a corpus keeps exactly one representative
  * per duplicate cluster — the step after [[Dedup.d03MinHashLsh]] in a
  * real training-data pipeline.
  *
  * Algorithm: distributed label propagation to a fixpoint — every doc
  * starts as its own label (its id); each round, every node adopts the
  * minimum label in its neighborhood (both edge directions + itself);
  * converges in O(cluster diameter) rounds. Each round is one
  * shuffle-join + one aggregate: no driver-side union-find, no
  * assumption the edge set fits anywhere in memory. Near-dup clusters
  * have tiny diameters (near-clique), so the loop runs 2-3 rounds in
  * practice; `maxIter` bounds pathological chains.
  */
object DupClusters {

  /** @param pairs edges as (doc_a, doc_b); vertices default to the edge
    *              endpoints
    * @param maxIter cap on *label-changing* rounds (≈ the largest
    *                component diameter the caller will tolerate); a
    *                final zero-change confirming round is always allowed
    *                on top, so a component needing exactly maxIter
    *                propagation rounds still completes
    * @return (doc_id, cluster) — cluster = min doc_id reachable
    * @throws IllegalStateException if labels still change after maxIter
    *         propagation rounds (diameter > maxIter) — unconverged
    *         labels would be silently wrong minima */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 10): DataFrame = {
    // localCheckpoint, not persist (r7): every propagation round joins
    // `edges`, and with persist each round's job still carries the full
    // upstream lineage (for d07 that is the whole MinHash/LSH pipeline)
    // through planning — and re-EXECUTES it if storage pressure evicts
    // the cached blocks mid-loop, which is exactly what a long multi-
    // query job produces. The checkpoint materializes the edge set once
    // and truncates the lineage, so each round is one join + one agg
    // over a flat scan, whatever ran before. (d11/g01 already do this.)
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"),
        col("doc_a").as("dst")))
      .distinct()
      .localCheckpoint()
    // per-round lineage truncation, not persist (round-14): persist
    // caches BLOCKS but keeps the LOGICAL plan, and each round's plan
    // embeds the previous round's labels twice (the neighborMin join +
    // the carry join) — 2^rounds plan nodes. Components with diameter
    // ~2-3 (every near-dup fixture until the ×8 scale sweep) never
    // noticed; the ×8 corpus chains components ~10 deep, and round 10's
    // plan STRING alone (AQE renders it per plan-update event, UI on or
    // off) is gigabytes — the d21 ×8 OOM was Spark printing the plan,
    // with the data itself at a trivial 24k edges. An EAGER
    // localCheckpoint per round materializes AND truncates, so every
    // round's plan is one checkpoint scan + join + agg, whatever the
    // diameter.
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster", col("doc_id"))
      .localCheckpoint()
    // the frame actually holding the checkpoint for the current level —
    // `labels` becomes a projection over it after round 1, and releasing
    // a projection is a silent no-op
    var cached = labels
    var converged = false
    var changingRounds = 0
    while (!converged && changingRounds <= maxIter) {
      // each node adopts min(own label, neighbors' labels)
      val neighborMin = edges
        .join(labels.withColumnRenamed("doc_id", "dst"), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("cluster")).as("neighbor_min"))
      // carry the previous label alongside the new one so convergence
      // detection is a filter over the same checkpointed frame — no
      // extra join (and its shuffle) per round
      val next = labels.join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("cluster").as("old"),
          least(col("cluster"), coalesce(col("neighbor_min"),
            col("cluster"))).as("cluster"))
        .localCheckpoint() // eager: round N materializes HERE, so the
          // previous round's blocks are safe to release below
      val changed = next.filter(col("cluster") =!= col("old")).count()
      graft.Checkpoints.release(cached)
      cached = next
      labels = next.select(col("doc_id"), col("cluster"))
      converged = changed == 0
      if (!converged) changingRounds += 1
    }
    if (!converged) {
      graft.Checkpoints.release(cached)
      graft.Checkpoints.release(edges)
      throw new IllegalStateException(
        s"connectedComponents still changing after $maxIter propagation " +
          "rounds — a component's diameter exceeds maxIter; raise maxIter")
    }
    // snap the result free of the last round's checkpoint, then release
    // every intermediate deterministically — the result checkpoint is
    // the only storage this op hands back to the caller
    val result = labels.localCheckpoint()
    graft.Checkpoints.release(cached)
    graft.Checkpoints.release(edges)
    result
  }

  /** d07: cluster assignment for every document that has a near-dup
    * (jaccard ≥ 0.8 edges from d03); singletons are implicitly their
    * own cluster and omitted, matching "docs to deduplicate". */
  def d07DupClusters(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(Dedup.d03MinHashLsh(spark, dir))
      .orderBy(col("doc_id"))

  /** Drop every non-representative near-dup cluster member of `docs`
    * (representative = minimum doc_id = the CC label) given near-dup
    * `pairs`; fingerprint the survivors. One anti join after the label
    * propagation — shared stage of d09 and [[Pipeline.cleanCorpus]]. */
  private[llm] def dropNonRepresentatives(docs: DataFrame,
      pairs: DataFrame): DataFrame = {
    val clusters = connectedComponents(pairs)
    val drop = clusters.filter(col("doc_id") =!= col("cluster"))
      .select(col("doc_id"))
    docs.join(drop, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_chars"),
        org.apache.spark.sql.functions.md5(col("text")).as("content_md5"))
      .orderBy(col("doc_id"))
  }

  /** d09: the dedup pipeline's end product — the corpus with every
    * non-representative cluster member removed. Clusters from d07's
    * label propagation; the removal is one anti join, so the full
    * dedup-and-keep-one flow is LSH pairs → CC labels → anti join —
    * every stage a shuffle-shaped DataFrame op. */
  def d09DedupCorpus(spark: SparkSession, dir: String): DataFrame =
    dropNonRepresentatives(
      graft.Tables(spark, dir, "documents"),
      Dedup.d03MinHashLsh(spark, dir))

  /** d11 near-dup edge threshold — see the threshold note on
    * [[d11SemDedup]]. */
  val SemDedupThreshold = 0.45

  /** d11: semantic dedup over IVF cells (cf. SemDeDup, Abbas et al.,
    * arXiv:2303.09540) — the 100 TB shape of embedding near-dup removal:
    * instead of d06's all-pairs cosine, restrict the quadratic search to
    * the trained IVF cells ([[Similarity.ivfRanked]], shared with s02) —
    * semantically-close vectors land in the same Voronoi cell, so
    * within-cell pairs recover the near-dup edges at n²/K cost with
    * `cell` as the co-partition key (the join shuffles on cell; AQE
    * absorbs cell-size skew). Edges (cosine ≥ [[SemDedupThreshold]])
    * feed the same label-propagation CC as the text path; the labels are
    * the duplicate-cluster assignment — `cluster` = the kept
    * representative.
    *
    * The threshold sits ABOVE d06's 0.4 deliberately: semantic dedup
    * removes near-identical content, and label-propagation cost is
    * O(component diameter) rounds — at 0.4 the bench-scale fixture's
    * barely-similar pairs chain into ~75-node components of diameter
    * ~10 (measured), i.e. threshold choice IS the scale knob for any
    * transitive dedup. At 0.45 components stay ≤ ~5 nodes, diameter
    * ≤ 3, at every fixture scale.
    *
    * The trade against d06 is the standard ANN one: a cross-cell
    * near-dup pair is missed (LlmOpsSpec measures the within-cell
    * recall); everything found is exact-verified, so precision is 1. */
  def d11SemDedup(spark: SparkSession, dir: String): DataFrame = {
    // the rank-1 members come from the PERSISTED inverted lists
    // (Similarity.ivfIndexBase — trained once per JVM, read here):
    // both self-join sides are cheap stable parquet re-reads, so the
    // localCheckpoint that used to guard against double-training is
    // gone with the double-training itself
    semDedupFromMembers(Similarity.ivfInvertedLists(spark, dir)
      .select(col("cell"), col("vec_id"), col("embedding"), col("norm")))
  }

  /** d21: d11's semantic dedup over ⌈√n⌉-PROVISIONED cells — the
    * companion of [[Similarity.s34IvfSqrtProvisioned]], closing the
    * OTHER finding of the round-14 scale curves (PERF.md: d11 at ×4
    * OOMed because 16 pinned cells on cluster-free vectors give cell
    * occupancy n/16, so the within-cell pair stage materializes
    * O(n²/16) rows into label propagation; with k = ⌈√n⌉ the occupancy
    * is O(√n) and the pair stage is O(n) TOTAL — n cells' worth of
    * √n·√n pairs — the curve that survives the adversarial regime).
    * Same deterministic training chain, same within-cell exact-cosine
    * edge contract, same clustering; the trade vs d11 is finer cells →
    * more missed cross-cell near-dup pairs, the standard
    * recall-vs-provisioning dial (precision stays 1 — every edge is
    * exact-verified). */
  def d21SemDedupProvisioned(spark: SparkSession, dir: String): DataFrame = {
    val v = Similarity.normed(spark, dir)
    semDedupFromMembers(Similarity.assignToCentroids(v,
      Similarity.ivfTrainCentroids(v, Similarity.provisionedCells(v))))
  }

  /** The semantic-dedup tail shared by d11 and d21: within-cell
    * exact-cosine edges at [[SemDedupThreshold]], then connected
    * components — the pair stage is bounded by cell occupancy, so its
    * scale posture is exactly the cell-provisioning of `members`. */
  private def semDedupFromMembers(members: DataFrame): DataFrame = {
    val a = members.select(col("cell"), col("vec_id").as("doc_a"),
      col("embedding").as("ea"), col("norm").as("na"))
    val b = members.select(col("cell"), col("vec_id").as("doc_b"),
      col("embedding").as("eb"), col("norm").as("nb"))
    val edges = a.join(b, Seq("cell"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("cosine",
        expr("vec_dot(ea, eb)") / (col("na") * col("nb")))
      .filter(col("cosine") >= SemDedupThreshold)
      .select(col("doc_a"), col("doc_b"))
    connectedComponents(edges)
      .select(col("doc_id").as("vec_id"), col("cluster"))
      .orderBy(col("vec_id"))
  }

  /** d11 oracle: the shared trained-IVF CTE chain
    * ([[Similarity.ivfRankedCte]] — bit-reproducible by construction),
    * within-cell exact-cosine edges, the same recursive-reachability
    * labels as the text-dedup oracles. */
  val d11Sql: String = Similarity.ivfRankedCte
    .replaceFirst("^WITH ", "WITH RECURSIVE ") + semDedupTailSql

  /** d21 oracle: the SAME semantic-dedup tail over the
    * ⌈√n⌉-provisioned trained chain ([[Similarity.sqrtSeedSql]] — one
    * seed pick shared with the s34 oracle). */
  val d21Sql: String = Similarity.ivfRankedCteWith(Similarity.sqrtSeedSql)
    .replaceFirst("^WITH ", "WITH RECURSIVE ") + semDedupTailSql

  private def semDedupTailSql: String =
    """, mem AS (
      |  SELECT cell, vec_id, v, nrm FROM ranked WHERE cell_rank = 1
      |), sp AS (
      |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
      |  FROM mem a JOIN mem b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm)
      |    >= """.stripMargin + SemDedupThreshold +
    """
      |), edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM sp
      |  UNION SELECT doc_b, doc_a FROM sp
      |), reach AS (
      |  SELECT src, src AS dst FROM (SELECT DISTINCT src FROM edges)
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
      |), labels AS (
      |  SELECT src AS vec_id, MIN(dst) AS cluster FROM reach GROUP BY src
      |)
      |SELECT vec_id, cluster FROM labels ORDER BY vec_id""".stripMargin

  /** Recursive-reachability CTE block over an arbitrary source relation
    * (appended to [[Dedup.shingleCteOver]]'s chain): exact-Jaccard 0.8
    * edges → min reachable id per member node. One definition shared by
    * the d07/d09 and pipeline oracles. */
  private[llm] val reachCteTail: String =
    """, pairs2 AS (
      |  SELECT doc_a, doc_b
      |  FROM pr JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
      |  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8
      |), edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs2
      |  UNION SELECT doc_b, doc_a FROM pairs2
      |), reach AS (
      |  SELECT src, src AS dst FROM (SELECT DISTINCT src FROM edges)
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
      |), labels AS (
      |  SELECT src AS doc_id, MIN(dst) AS cluster FROM reach GROUP BY src
      |)""".stripMargin

  /** Shared block over the fixture `documents` table. */
  private val reachCte: String = Dedup.shingleOracleCte
    .replaceFirst("^WITH ", "WITH RECURSIVE ") + reachCteTail

  /** Oracle: recursive CTE reachability over the exact-Jaccard edge set
    * (same edges as d03's oracle), min reachable id per node. */
  val d07Sql: String = reachCte +
    """
      |SELECT doc_id, cluster FROM labels ORDER BY doc_id""".stripMargin

  val d09Sql: String = reachCte +
    """
      |SELECT doc_id, n_chars, MD5(text) AS content_md5 FROM documents
      |WHERE doc_id NOT IN (
      |  SELECT doc_id FROM labels WHERE doc_id <> cluster)
      |ORDER BY doc_id""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("d07_dup_clusters", d07DupClusters, Some(d07Sql)),
    Query("d09_dedup_corpus", d09DedupCorpus, Some(d09Sql)),
    Query("d11_semdedup", d11SemDedup, Some(d11Sql)),
    Query("d21_semdedup_provisioned", d21SemDedupProvisioned, Some(d21Sql)),
  )
}
