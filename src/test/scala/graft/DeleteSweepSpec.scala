package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Dedup, IndexDelete, IndexFamily, Retrieval, Similarity}
import graft.llm.CodeTable.{Bq, Pq, Sq}

/** Delete propagation as a GENERIC compliance property, not a
  * per-query test: once an id is tombstoned, it must never appear in
  * any output column that denotes a SERVED MEMBER of the index — for
  * every serving surface of every delete-bearing index family, at any
  * delete fraction. Two halves:
  *
  *  1. the registry sweep — every registered query that serves a
  *     delete-exercised artifact, checked against its family's
  *     deterministic delete set (the EmptyInputSpec pattern, but for
  *     takedowns);
  *  2. the starved-pool fixture — a ≥50%-deleted index served through
  *     the from-frame chains (PQ / SQ / BQ). This pins the pool-cut
  *     ORDER, not just the filter: tombstones cut AFTER the
  *     RerankPool window would still never surface (the refine fetch
  *     is live-only) but would occupy pool slots and starve the
  *     refine below k — so "full k under heavy deletion" is the
  *     observable that distinguishes the pre-window cut from the
  *     post-window one.
  */
class DeleteSweepSpec extends AnyFunSuite {
  import SparkTestSession._

  /** The delete-exercised registered queries: name → (member columns,
    * the family's deterministic tombstone predicate). Query-side
    * columns (query_id) are NOT member columns on purpose: removal
    * un-indexes a document, it does not revoke anyone's ability to
    * search (the s32 contract). d20's output carries only probe-side
    * doc_ids (its member surface is suppression, pinned by its own
    * family spec), so its generic check is tombstone-set disjointness
    * of the docs its `exact`/`near` statuses could have come from —
    * expressed here as: no probe doc may be classified a duplicate
    * of NOTHING, which d20's oracle hash already pins; we assert the
    * registry's reason for omitting it stays true (no member column
    * in the schema). */
  private val served: Map[String, (Seq[String], Long => Boolean)] = Map(
    "s32_tombstone_search" -> (Seq("neighbor_id"),
      (id: Long) => id % IndexDelete.DeleteMod == IndexDelete.DeleteRes),
    "s33_bm25_delete" -> (Seq("doc_id"),
      (id: Long) => id % Retrieval.DelMod == Retrieval.DelRem),
  )

  test("registry sweep: no tombstoned id appears as a served member") {
    served.foreach { case (name, (cols, deleted)) =>
      val df = SparkEntry.queries(name)(spark, sf)
      cols.foreach(c => assert(df.columns.contains(c),
        s"$name lost its member column $c — update the registry"))
      val offenders = cols.flatMap { c =>
        df.select(col(c).cast("long")).collect()
          .map(_.getLong(0)).filter(deleted).map(id => s"$name.$c=$id")
      }
      assert(offenders.isEmpty,
        s"tombstoned ids served as members: ${offenders.take(5).mkString(", ")}")
      // non-vacuity: the family's delete set intersects the fixture
      assert(df.count() > 0, s"$name returned nothing — sweep is vacuous")
    }
    // d20 is omitted because its OUTPUT has no member column — only
    // probe-side doc_ids; keep that omission honest
    val d20 = SparkEntry.queries("d20_index_takedown")(spark, sf)
    assert(d20.columns.toSet == Set("doc_id", "status"),
      "d20 grew a member column — add it to the sweep registry")
    d20.select("doc_id").collect().map(_.getLong(0)).foreach { id =>
      assert(id % 3 == 0, "d20 output must stay probe-side only")
    }
  }

  test("a >=50%-deleted index still fills the full k on every query " +
      "(PQ/SQ/BQ from-frame serving)") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    def vec(): Seq[Float] = Seq.fill(64)(rnd.nextFloat() - 0.5f)
    val all = (0L until 800L).map(i => (i, vec()))
    val root = java.nio.file.Files.createTempDirectory("graft-delsweep")
    val ivf = root.resolve("ivf").toString
    val pq = root.resolve("pq").toString
    val sq = root.resolve("sq").toString
    val bq = root.resolve("bq").toString
    val df = all.toDF("vec_id", "embedding")
    graft.stream.IndexIngest.bootstrap(IndexFamily.Ivf, ivf, df)
    graft.stream.IndexIngest.bootstrap(Pq.over(ivf), pq, df)
    graft.stream.IndexIngest.bootstrap(Sq.over(ivf), sq, df)
    graft.stream.IndexIngest.bootstrap(Bq.over(ivf), bq, df)
    // remove 75% of the membership — far past the point where the
    // 32-slot pool would starve if tombstones still occupied slots
    // (32 × 25% live ≈ 8 < k=10)
    val deleted = all.map(_._1).filter(_ % 4 != 0)
    val n = IndexDelete.applyDeletes(IndexFamily.Ivf, spark, ivf,
      deleted.toDF("vec_id"))
    assert(n == deleted.size.toLong, s"expected ${deleted.size} removals, got $n")
    assert(IndexDelete.tombstonesAt(spark, ivf).count() == n)
    // the query panel, off the stored lists (the streaming posture —
    // no corpus table exists). It deliberately INCLUDES tombstoned
    // ids (% 8 == 1 implies % 4 != 0 → deleted): removal un-indexes a
    // document, it does not revoke anyone's ability to search (the
    // s32 contract) — a deleted querier must still get its k live
    // neighbors, which pins that query vectors come from the panel,
    // not the live-filtered refine fetch.
    val panel = spark.read.schema(Similarity.invertedListSchema)
      .parquet(s"$ivf/assignments")
      .filter(pmod(col("vec_id"), lit(8)).isin(0, 1))
      .select(col("vec_id"), col("embedding"), col("norm"))
    val nPanel = panel.count()
    assert(nPanel >= 100, s"panel too small to be meaningful: $nPanel")
    val deletedQueriers = panel.filter(col("vec_id") % 4 =!= 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(deletedQueriers.nonEmpty, "panel must carry tombstoned queriers")
    val surfaces: Seq[(String, DataFrame)] = Seq(
      "pq" -> Similarity.serveFrom(Pq, spark, panel, ivf, pq),
      "sq" -> Similarity.serveFrom(Sq, spark, panel, ivf, sq),
      "bq" -> Similarity.serveFrom(Bq, spark, panel, ivf, bq))
    val delSet = deleted.toSet
    surfaces.foreach { case (kind, servedDf) =>
      val rows = servedDf.select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val byQuery = rows.groupBy(_._1)
      assert(byQuery.size == nPanel,
        s"$kind: ${nPanel - byQuery.size} queries returned nothing")
      byQuery.foreach { case (q, rs) =>
        assert(rs.length == 10,
          s"$kind: query $q got ${rs.length} < 10 results — pool starved " +
            "(tombstones must be cut BEFORE the rank window)" +
            (if (deletedQueriers(q)) "; q is a TOMBSTONED querier — " +
              "deletion must not revoke search" else ""))
      }
      val offenders = rows.filter(r => delSet(r._2))
      assert(offenders.isEmpty,
        s"$kind served tombstoned members: ${offenders.take(5).mkString(", ")}")
    }
  }

  test("a fully-deleted index serves the empty answer, never a crash") {
    import spark.implicits._
    val rnd = new scala.util.Random(78)
    def vec(): Seq[Float] = Seq.fill(64)(rnd.nextFloat() - 0.5f)
    val all = (0L until 64L).map(i => (i, vec()))
    val root = java.nio.file.Files.createTempDirectory("graft-delall")
    val ivf = root.resolve("ivf").toString
    val pq = root.resolve("pq").toString
    val df = all.toDF("vec_id", "embedding")
    graft.stream.IndexIngest.bootstrap(IndexFamily.Ivf, ivf, df)
    graft.stream.IndexIngest.bootstrap(Pq.over(ivf), pq, df)
    // the panel is captured BEFORE the wipe (a maintenance snapshot
    // whose queriers have all since been taken down — the most
    // degenerate serving state a delete-bearing index reaches)
    val panel = spark.read.schema(Similarity.invertedListSchema)
      .parquet(s"$ivf/assignments")
      .select(col("vec_id"), col("embedding"), col("norm"))
      .localCheckpoint(true)
    val n = IndexDelete.applyDeletes(IndexFamily.Ivf, spark, ivf,
      all.map(_._1).toDF("vec_id"))
    assert(n == all.size.toLong)
    assert(Similarity.serveFrom(Pq, spark, panel, ivf, pq)
      .count() == 0L, "an emptied index must serve the empty answer")
    graft.Checkpoints.release(panel)
  }
}
