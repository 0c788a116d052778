package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.Query

/** Deletion on the persisted vector index — the lifecycle verb the
  * index families had been missing. Create (`ensure`), append (the
  * streaming sinks), compact, retrain and audit all exist; a real
  * 100 TB corpus also takes REMOVALS (takedown requests, license
  * revocations, dedup-driven pruning), and rewriting a 100 TB
  * cell-major table per delete request is not an option. This module
  * implements the production posture every mutable index/lakehouse
  * system converges on — Lucene's deleted-docs bitmap, Delta/Iceberg
  * deletion vectors, Faiss `remove_ids` over `IDSelector`:
  *
  *  - **delete = tombstone append**: O(deletes) — the removed ids are
  *    appended to a `tombstones/` child of the index base; no data
  *    file is touched. The artifact's content fingerprint moves to
  *    the POST-delete membership by xor-composition (xor is its own
  *    inverse, so removal composes exactly like [[Similarity]]'s
  *    incremental append: `fp(A ∖ D) = (nA − nD, xA ⊕ xD)` for
  *    D ⊆ A) — the standing corpus is never rescanned.
  *  - **serve = anti-join the tombstone set**: tombstones are
  *    per-index tiny (they exist to be compacted away) and broadcast;
  *    candidate generation, partition pruning and ranking plans are
  *    unchanged. Centroids/codebooks are NOT retrained on delete —
  *    exactly Faiss `remove_ids` semantics (the coarse quantizer keeps
  *    serving; quality drift is the recall gate's job, not delete's).
  *  - **compact = physical removal**: the existing layout-rewrite
  *    maintenance job additionally drops tombstoned rows and resets
  *    the tombstone set — fingerprint unchanged, because the LOGICAL
  *    membership already moved at delete time.
  *
  * Contract notes: delete requests for ids not (or no longer) in the
  * index are ignored (Faiss returns `n_removed`, so do we); a repeated
  * delete of the same id is a no-op (the xor-out happens exactly once —
  * double-removal would RE-ADD the row's hash). Re-APPENDING a
  * previously tombstoned vec_id is out of contract until a compaction
  * has cleared the tombstone (ids are external and unique upstream;
  * the append sinks do not consult tombstones — documented, not
  * silently half-supported).
  *
  * The reference repo persists node outputs but has no removal verb at
  * all (`R/DataFrameOperationR.R` only ever writes whole outputs); like
  * the rest of the `llm` package this is a capability extension.
  */
object IndexDelete {

  /** s32's deterministic delete set: `vec_id % 17 == 3` (~6% of the
    * corpus), replayable exactly in SQL. */
  val DeleteMod = 17L
  val DeleteRes = 3L

  /** Whether `base` carries any LIVE tombstones — the driver-side
    * branch every serving/maintenance read takes. Tests for part
    * FILES, not bare directory existence: compaction stages an EMPTY
    * tombstone dir over the old one (the publish swaps staged
    * children; it cannot remove a live child), so an existence check
    * would leave the anti-join branch on forever after the first
    * compaction — the bare-scan fast path must RE-ARM once the
    * tombstones are physicalized away (review-caught). All probes go
    * through the store's backend dispatch
    * ([[graft.io.ArtifactStore.backend]]): it decodes `file:` URI
    * bases the way the store itself does (a URI-form base probed with
    * java.nio silently read as "never deleted" — the IndexIngest
    * localBase lesson) and follows registered Hadoop schemes onto the
    * right filesystem. */
  private[graft] def hasTombstones(base: String): Boolean = {
    val (fs, b) = graft.io.ArtifactStore.backend(base)
    fs.childNames(fs.join(b, "tombstones")).exists(_.startsWith("part-"))
  }

  /** `df` restricted to live members of `base`: the one live-filter
    * branch every consumer shares (vector lists, BM25 candidates,
    * dedup digest/band arms, compaction reads, the compressed serving
    * pools). No tombstones → `df` unchanged, zero plan overhead.
    *
    * `storedCol` names the tombstones' column when `df` carries the
    * member id under a CONSUMER-side name (the serving pools carry it
    * as `neighbor_id`); only then is the broadcast side renamed, so a
    * same-name filter plans the bare anti-join. That is the pre-pool
    * cut of the compressed serving chains: tombstoned ids must not
    * occupy [[Similarity.RerankPool]] slots (a heavily-deleted index
    * would starve the refine below k — the s26 starvation class, on
    * the delete path), so the anti-join runs at CANDIDATE scale before
    * any rank window. */
  private[graft] def liveById(spark: SparkSession, base: String,
      df: DataFrame, idCol: String,
      storedCol: Option[String] = None): DataFrame =
    if (!hasTombstones(base)) df
    else df.join(broadcast(storedCol.fold(tombstonesAt(spark, base, idCol))(
      s => tombstonesAt(spark, base, s).withColumnRenamed(s, idCol))),
      Seq(idCol), "left_anti")

  private[graft] def tombstonesAt(spark: SparkSession, base: String,
      idCol: String = "vec_id"): DataFrame = {
    val schema = StructType(Seq(StructField(idCol, LongType)))
    val (fs, b) = graft.io.ArtifactStore.backend(base)
    val dir = fs.join(b, "tombstones")
    if (fs.isDir(dir))
      spark.read.schema(schema).parquet(dir).select(col(idCol))
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** The index's LIVE inverted lists: stored members minus tombstones.
    * The tombstone side broadcasts (it is kept small by compaction);
    * an index that has never seen a delete has no tombstone dir and
    * gets the plain stored scan — the branch resolves driver-side at
    * plan time, so the whole undeleted fleet pays zero plan overhead
    * (spec-pinned). */
  private[graft] def liveListsAt(spark: SparkSession, base: String): DataFrame =
    liveById(spark, base, Similarity.invertedListsAt(spark, base), "vec_id")
      .select(col("cell"), col("vec_id"), col("embedding"), col("norm"))

  /** Read-side plan of one remove_ids call against the CURRENT
    * artifact of family `f`: the ids actually being removed (stored,
    * not already tombstoned — deduplicated) and their fingerprint
    * parts from the stored row hashes ([[IndexFamily.stored]] — the
    * corpus is never re-read). Callers evaluate it inside
    * [[graft.io.ArtifactStore.mutate]]'s decision, under the lock its
    * tombstones are written in, so the plan and the fingerprint it
    * composes onto are one state of the artifact. The whole read side
    * is pinned in ONE collect of the victims' `(id, hash)` pairs —
    * O(deletes)-small by design, the same scale bound the broadcast
    * anti-joins rely on:
    *
    *  - the returned frame is PINNED, never lazy: a lazy plan would be
    *    re-executed inside the mutate body AFTER the marker is dropped,
    *    re-reading the stored rows and the tombstone dir the body
    *    appends to. A local relation carries no file references at
    *    all, so the commit window writes a value, not a plan (ADVICE
    *    r12);
    *  - ONE collect, not a parts-aggregate plus a separate id
    *    collect: each was an index-scan job, doubling the streaming
    *    delete hot path's cost (review-caught). */
  private[graft] def removalPlan(f: IndexFamily, spark: SparkSession,
      base: String, ids: DataFrame): (DataFrame, (Long, Long)) = {
    val id = f.idCol
    val requested = ids.select(col(id).cast(LongType)).distinct()
    val rows = f.stored(spark, base)
      .join(broadcast(requested), Seq(id), "left_semi")
      .join(broadcast(tombstonesAt(spark, base, id)), Seq(id), "left_anti")
      .select(col(id).cast(LongType), f.storedHash)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val x = rows.foldLeft(0L)(_ ^ _._2)
    import spark.implicits._
    (rows.map(_._1).sorted.toIndexedSeq.toDF(id), (rows.length.toLong, x))
  }

  /** Append the removal's tombstones into the LIVE base — the body a
    * caller runs inside [[graft.io.ArtifactStore.mutate]]. */
  private[graft] def writeTombstones(live: String, removedIds: DataFrame): Unit =
    removedIds
      .coalesce(1).sortWithinPartitions(col(removedIds.columns.head))
      .write.mode("append").parquet(s"$live/tombstones")

  /** Batch `remove_ids` on a persisted index of family `f`: one
    * [[graft.io.ArtifactStore.mutate]] whose decision evaluates the
    * removal plan ([[removalPlan]]) under the lock, composes its parts
    * out of the fingerprint it reads there, and declines when nothing
    * is left to remove. Returns the number of members removed BY THIS
    * CALL — Faiss `n_removed` semantics: 0 when every id was absent or
    * already tombstoned — which includes a concurrent applier having
    * landed the same removal first: its tombstones are what this
    * call's plan reads, so each removal is reported exactly once (two
    * racers summing `dn` each would double-count, ADVICE r12) and no
    * hash is ever xor'd back in. */
  def applyDeletes(f: IndexFamily, spark: SparkSession, base: String,
      ids: DataFrame): Long = {
    var removedIds: DataFrame = null
    var n = 0L
    graft.io.ArtifactStore.mutate(base) { cur =>
      val (planned, (dn, dx)) = removalPlan(f, spark, base, ids)
      removedIds = planned
      n = dn
      Option.when(dn > 0)(graft.io.ArtifactStore.composed(cur, -dn, dx))
    }(writeTombstones(_, removedIds))
    n
  }

  // -------------------------------------------------------------------
  // s32 — tombstone-aware serving on a persisted-and-mutated index
  // -------------------------------------------------------------------

  private[graft] val ivfTomb = graft.io.Artifact("ivf-tomb")

  /** s32's index artifact: the full-corpus IVF index built through the
    * normal staged-publish path, then `remove_ids(vec_id % 17 == 3)`
    * applied as a REAL fingerprint-checked mutation (not baked into
    * the build — the artifact on disk goes through the same two states
    * a production index does) — [[graft.io.Artifact.ensureDeleted]]. */
  private[graft] def tombIndexBase(spark: SparkSession, dir: String): String = {
    val delPred = pmod(col("vec_id"), lit(DeleteMod)) === DeleteRes
    lazy val v = Similarity.normed(spark, dir)
    lazy val Seq(full, del) =
      IndexFamily.Ivf.partsWhere(v, lit(true), delPred)
    ivfTomb.ensureDeleted(dir)(full, del)(IndexFamily.Ivf.build(v, _))(
      applyDeletes(IndexFamily.Ivf, spark, _,
        v.filter(delPred).select(col("vec_id"))))
  }

  /** s32: the s15 serving contract on an index that has taken
    * deletions — probe the STORED centroids (trained before the
    * deletes, unchanged by them: Faiss `remove_ids` semantics), fan
    * out into 3 cells of the stored inverted lists, and rank top-5
    * among LIVE members only. Deleted vectors still issue queries
    * (removal un-indexes a document; it does not revoke anyone's
    * ability to search), but never appear as neighbors. */
  def s32TombstoneSearch(spark: SparkSession, dir: String): DataFrame = {
    val base = tombIndexBase(spark, dir)
    Similarity.probedTopK(
      Similarity.rankedAgainst(Similarity.reversedQueries(spark, dir),
        Similarity.centroidsAt(spark, base)),
      liveListsAt(spark, base), keep = lit(true))
  }

  /** s32 oracle: the s15 chain (independent replay of what the
    * artifact stores — training over the FULL corpus, which is what
    * the stored centroids hold after a train-then-delete lifecycle)
    * with the index members restricted to the live set. The delete
    * predicate restricts `cell_rank = 1` ROWS only: deleted vectors
    * keep participating as queries. */
  val s32Sql: String = Similarity.ivfRankedCte +
    s""", q AS (
      |  SELECT vec_id AS query_id, list_reverse(v) AS qv, nrm AS qn
      |  FROM nn WHERE vec_id % 5 = 0
      |), qs AS (
      |  SELECT query_id, qv, qn, c.cell,
      |    list_dot_product(qv, c.cv) / (qn * c.cnrm) AS csim
      |  FROM q CROSS JOIN c
      |), qp AS (
      |  SELECT cell, query_id, qv, qn FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY csim DESC, cell) AS rk FROM qs)
      |  WHERE rk <= 3
      |), idx AS (
      |  SELECT cell, vec_id AS neighbor_id, v AS iv, nrm AS inrm
      |  FROM ranked
      |  WHERE cell_rank = 1 AND vec_id % $DeleteMod <> $DeleteRes
      |), sc AS (
      |  SELECT DISTINCT query_id, neighbor_id,
      |    list_dot_product(qv, iv) / (qn * inrm) AS cosine
      |  FROM qp JOIN idx USING (cell)
      |), r AS (
      |  SELECT query_id, neighbor_id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY cosine DESC, neighbor_id) AS rn
      |  FROM sc
      |)
      |SELECT query_id, CAST(rn AS INT) AS rn, neighbor_id, cosine
      |FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("s32_tombstone_search", s32TombstoneSearch, Some(s32Sql)),
  )
}
