package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.CodeTable.{Bq, Pq, Sq}
import graft.llm.IndexFamily
import graft.stream.IndexIngest
import graft.stream.IndexIngest.BootstrapStatus._

/** The bootstrap-skip taxonomy ([[IndexIngest.BootstrapStatus]]) is
  * OBSERVABLE at every bootstrap surface: a changed-corpus
  * re-bootstrap — the operator error where the offered vectors are
  * not what the living artifact indexes — must report KeptDivergent
  * from each of the sinks' bootstrap paths, never be silently
  * swallowed by a discarded return (VERDICT r12 #6). */
class BootstrapStatusSpec extends AnyFunSuite {
  import SparkTestSession._

  private def vecs(seed: Int, n: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0L until n.toLong).map(i =>
      (i, Seq.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
  }

  private def docs(seed: Int, n: Int): DataFrame = {
    import spark.implicits._
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    val rnd = new scala.util.Random(seed)
    (0L until n.toLong).map(i =>
      (i, Seq.fill(6)(words(rnd.nextInt(words.size))).mkString(" ")))
      .toDF("doc_id", "text")
  }

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory("graft-bstatus")
      .resolve(name).toString

  test("bootstrap provisions the requested centroid count") {
    // the √n provisioning lever (PERF.md round-14) reaches the
    // streaming lifecycle: a production bootstrap passes cells=⌈√n⌉;
    // everything downstream reads the stored centroid frame, so the
    // count is free to vary per artifact
    val base = tmp("prov")
    assert(IndexIngest.bootstrap(IndexFamily.Ivf(7), base, vecs(7, 48))
      == graft.stream.IndexIngest.BootstrapStatus.Built)
    assert(spark.read.parquet(s"$base/centroids").count() == 7L)
  }

  test("a 7-cell index keeps 7 centroids through a heal and a fired retrain") {
    // heals and retrains retrain at the STORED centroid count — the
    // provisioning lever survives the maintenance loop instead of
    // falling back to the fixture's 16 cells
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def vecs(ids: Seq[Long]): DataFrame =
      ids.map(i => (i, Seq.fill(64)(rnd.nextFloat() - 0.5f)))
        .toDF("vec_id", "embedding")
    val base = vecs(0L until 40L)
    val b1 = vecs(100L until 120L)
    val (ivf, pq) = (tmp("ivf7"), tmp("pq7"))
    def centroids(): Long = spark.read.parquet(s"$ivf/centroids").count()
    assert(IndexIngest.bootstrap(IndexFamily.Ivf(7), ivf, base) == Built)
    IndexIngest.bootstrap(Pq.over(ivf), pq, base)
    assert(centroids() == 7L)
    // heal: the marker is gone and no publish aside exists, so the
    // gate re-marks the IVF artifact from its own rows
    java.nio.file.Files.delete(java.nio.file.Paths.get(ivf, "_FINGERPRINT"))
    IndexIngest.recallGateAndRetrain(spark, ivf, pq)
    assert(graft.io.ArtifactStore.currentFingerprint(ivf).isDefined,
      "the gate must heal the marker-less IVF artifact")
    assert(centroids() == 7L, "a heal must keep the stored centroid count")
    // retrain: appends encoded against frozen models fire the gate
    IndexIngest.appendSink(IndexFamily.Ivf, ivf)(b1, 0L)
    IndexIngest.appendSink(Pq.over(ivf), pq)(b1, 0L)
    val (_, h, fired, retrained) =
      IndexIngest.recallGateAndRetrain(spark, ivf, pq)
    assert(fired && retrained, s"the gate must fire and retrain (hits $h)")
    assert(centroids() == 7L,
      "a retrain must keep the stored centroid count")
  }

  test("every single-artifact bootstrap path reports Built / Current / KeptDivergent") {
    val a = vecs(1, 48); val b = vecs(2, 48)
    val da = docs(1, 40); val db = docs(2, 40)
    val ivf = tmp("ivf")
    assert(IndexIngest.bootstrap(IndexFamily.Ivf, ivf, a) == Built)
    assert(IndexIngest.bootstrap(IndexFamily.Ivf, ivf, a) == Current)
    assert(IndexIngest.bootstrap(IndexFamily.Ivf, ivf, b) == KeptDivergent,
      "a changed-corpus IVF re-bootstrap must be observable")

    val (pqB, sqB, bqB, bmB, lshB) =
      (tmp("pq"), tmp("sq"), tmp("bq"), tmp("bm25"), tmp("lsh"))
    val surfaces: Seq[(String,
        DataFrame => IndexIngest.BootstrapStatus, DataFrame, DataFrame)] = Seq(
      ("pq", IndexIngest.bootstrap(Pq.over(ivf), pqB, _), a, b),
      ("sq", IndexIngest.bootstrap(Sq.over(ivf), sqB, _), a, b),
      ("bq", IndexIngest.bootstrap(Bq.over(ivf), bqB, _), a, b),
      ("bm25", IndexIngest.bootstrap(IndexFamily.Bm25, bmB, _), da, db),
      ("lsh", IndexIngest.bootstrap(IndexFamily.Lsh, lshB, _), da, db))
    // each tuple's function is closed over ONE fresh base, so the
    // three calls exercise the full taxonomy on that surface
    surfaces.foreach { case (kind, boot, first, changed) =>
      assert(boot(first) == Built, s"$kind: fresh base must build")
      assert(boot(first) == Current, s"$kind: repeat run must be Current")
      assert(boot(changed) == KeptDivergent,
        s"$kind: a changed-corpus re-bootstrap must be observable")
    }
  }

  test("bootstrapPair surfaces the WORST member status, members included") {
    val a = vecs(3, 48); val b = vecs(4, 48)
    val pair = tmp("pair")
    assert(IndexIngest.bootstrapPair(pair, a, derived = Seq(Sq, Bq))
      == Built)
    assert(IndexIngest.bootstrapPair(pair, a, derived = Seq(Sq, Bq))
      == Current)
    assert(IndexIngest.bootstrapPair(pair, b, derived = Seq(Sq, Bq))
      == KeptDivergent,
      "a changed-corpus pair re-bootstrap must be observable")
    // half-lifecycle divergence: the IVF member is re-aligned to the
    // offered corpus (fresh generation dir) while the PQ member still
    // holds the OLD corpus — the pair status must carry the divergent
    // member's verdict, which the pre-fix code discarded
    val (ivfBase, pqBase) = IndexIngest.resolvePair(pair)
    graft.io.ArtifactStore.deleteTree(ivfBase)
    assert(IndexIngest.bootstrapPair(pair, b, derived = Seq(Sq, Bq))
      == KeptDivergent,
      "IVF rebuilt over corpus B, PQ still at corpus A: the divergent " +
        "member must dominate the pair status")
    assert(graft.io.ArtifactStore.currentFingerprint(pqBase).isDefined,
      "the divergent member is kept, not clobbered")

    // crash-before-pointer recovery: artifacts live, pointer gone —
    // a same-corpus retry completes the bootstrap (Built), a
    // changed-corpus retry adopts the existing artifacts LOUDLY
    val pair2 = tmp("pair2")
    assert(IndexIngest.bootstrapPair(pair2, a) == Built)
    val root = java.nio.file.Paths.get(pair2, "CURRENT")
    java.nio.file.Files.deleteIfExists(root)
    assert(IndexIngest.bootstrapPair(pair2, a) == Built,
      "same-corpus retry after a pointer-write crash completes the bootstrap")
    java.nio.file.Files.deleteIfExists(root)
    assert(IndexIngest.bootstrapPair(pair2, b) == KeptDivergent,
      "changed-corpus retry must not report Built over vectors the " +
        "adopted artifacts do not index")
  }
}
