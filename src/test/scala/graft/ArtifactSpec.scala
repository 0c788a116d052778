package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{Artifact, ArtifactStore}
import graft.llm._

/** The per-kind artifact handle: its three state machines on synthetic
  * artifacts, then the reuse contract for every kind the engine
  * persists — run the query that builds it, forget the per-JVM memo
  * (what the next JVM sees), run it again: nothing is built or
  * appended and the marker is untouched. */
class ArtifactSpec extends AnyFunSuite {
  import SparkTestSession._

  private def fresh(): (Artifact, String) =
    (Artifact(s"spec-${java.util.UUID.randomUUID}"),
      Files.createTempDirectory("graft-artifact-corpus").toString)

  private def write(dir: String, name: String): Unit =
    Files.write(Paths.get(dir, name), name.getBytes)

  private def fp(p: (Long, Long)): String = ArtifactStore.fingerprint(p._1, p._2)

  test("ensure: parts and build run on a miss only; a moved fingerprint rebuilds") {
    val (a, dir) = fresh()
    var scans = 0
    var parts = (3L, 5L)
    def resolve(): String = a.ensure(dir) { scans += 1; parts }(write(_, "d"))
    val b = resolve()
    assert(b == a.base(dir) && scans == 1 && a.builds.get == 1)
    assert(ArtifactStore.isCurrent(b, fp(parts)))
    resolve()
    assert(scans == 1, "a validated memo entry skips the fingerprint scan")
    a.forget(); resolve()
    assert(scans == 2 && a.builds.get == 1,
      "a forgotten memo re-fingerprints and reuses the stored artifact")
    parts = (4L, 6L)
    a.forget(); resolve()
    assert(a.builds.get == 2 && ArtifactStore.isCurrent(b, fp(parts)))
    assert(a.appends.get == 0)
  }

  test("ensureIncremental: build + append once at the derived union, then nothing") {
    val (a, dir) = fresh()
    def resolve(): String = a.ensureIncremental(dir)((2L, 0x0FL), (1L, 0x3CL))(
      write(_, "base"))(write(_, "batch"))
    val b = resolve()
    assert(a.builds.get == 1 && a.appends.get == 1)
    assert(ArtifactStore.isCurrent(b, fp((3L, 0x33L))))
    assert(Seq("base", "batch").forall(f => Files.exists(Paths.get(b, f))))
    a.forget(); resolve()
    assert(a.builds.get == 1 && a.appends.get == 1)
  }

  test("ensureDeleted: build at the full fingerprint, delete once, then serve") {
    val (a, dir) = fresh()
    val (full, live) = ((5L, 0x33L), (3L, 0x22L))
    var deletes = 0
    def applyDel(b: String): Long = {
      deletes += 1
      assert(ArtifactStore.mutate(b)(OverExactly(fp(full), fp(live)))(
        write(_, "tombs")))
      2L
    }
    def resolve(): String =
      a.ensureDeleted(dir)(full, (2L, 0x11L))(write(_, "d"))(applyDel)
    val b = resolve()
    assert(a.builds.get == 1 && a.appends.get == 1 && deletes == 1)
    assert(ArtifactStore.isCurrent(b, fp(live)))
    a.forget(); resolve()
    assert(a.builds.get == 1 && a.appends.get == 1 && deletes == 1)
    // a crash between build and delete leaves the full fingerprint:
    // the next resolve applies the delete without rebuilding
    ArtifactStore.deleteTree(b)
    assert(ArtifactStore.ensure(b, fp(full))(write(_, "d")))
    a.forget(); resolve()
    assert(a.builds.get == 1 && a.appends.get == 2 && deletes == 2)
    // an empty delete set never calls the delete
    val (a2, dir2) = fresh()
    a2.ensureDeleted(dir2)(full, (0L, 0L))(write(_, "d"))(_ => fail("no delete"))
    assert(a2.builds.get == 1 && a2.appends.get == 0)
  }

  /** Every persisted artifact kind with a query that builds it. */
  private val kinds: Seq[(Artifact, (SparkSession, String) => DataFrame)] = Seq(
    Similarity.ivfIndex -> Similarity.s21PqIndexSearch,
    Similarity.pqIndex -> Similarity.s21PqIndexSearch,
    Similarity.lblPqIndex -> Similarity.s27LabelPartitionedSearch,
    Similarity.resPqIndex -> Similarity.s28ResidualPqSearch,
    Similarity.sqIndex -> Similarity.s29SqSearch,
    Similarity.bqIndex -> Similarity.s30BqSearch,
    Similarity.gtTop10 -> Similarity.s23RecallAudit,
    Similarity.rtIvfIndex -> Similarity.s24RecallRetrain,
    Similarity.rtPqIndex -> Similarity.s24RecallRetrain,
    Similarity.pqIncIndex -> Similarity.s22IncrementalPqSearch,
    Similarity.ivfIncIndex -> Similarity.s16IncrementalIndexUpdate,
    Authority.prScores -> Authority.g04WarmStartPageRank,
    Authority.rollScores -> Authority.g05RollingPageRank,
    Dedup.dedupIndex -> Dedup.d18PersistedDedupIndex,
    Dedup.dedupIncIndex -> Dedup.d19IncrementalIndexAppend,
    Dedup.dedupTomb -> Dedup.d20IndexTakedown,
    Retrieval.bm25Index -> Retrieval.s10Bm25TopK,
    Retrieval.bm25IncIndex -> Retrieval.s17IncrementalBm25,
    Retrieval.bm25Tomb -> Retrieval.s33Bm25Delete,
    IndexDelete.ivfTomb -> IndexDelete.s32TombstoneSearch,
    Tokenizer.bpeVocab -> Tokenizer.t19BpeMerges)

  test("the reuse table covers 21 distinct artifact kinds") {
    assert(kinds.map(_._1.kind).distinct.size === 21)
  }

  kinds.foreach { case (a, query) =>
    test(s"reuse ${a.kind}: forget() then re-run builds and appends nothing") {
      query(spark, sf).collect()
      val marker = Paths.get(a.base(sf), "_FINGERPRINT")
      assert(Files.isRegularFile(marker), s"${a.kind} was not published")
      val before = (Files.readString(marker), Files.getLastModifiedTime(marker))
      val (b0, a0) = (a.builds.get, a.appends.get)
      a.forget()
      query(spark, sf).collect()
      assert(a.builds.get === b0, "a current artifact must not rebuild")
      assert(a.appends.get === a0, "a current artifact must not re-append")
      assert((Files.readString(marker), Files.getLastModifiedTime(marker)) ===
        before, "the marker must be left as it was")
    }
  }
}
