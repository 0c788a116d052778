package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.ArtifactStore
import graft.llm.{CodeTable, IndexFamily}
import graft.stream.IndexIngest
import graft.stream.IndexIngest.DefaultApp

/** Replaying a committed batch id through an append or delete sink
  * (what a restarted streaming query does with its last uncommitted
  * batch) is a wholesale no-op that starts no Spark job: the replay
  * check runs before the batch is fingerprinted or its removal planned,
  * and the artifact's fingerprint and files are untouched. */
class SinkReplaySpec extends AnyFunSuite {
  import SparkTestSession._

  /** Every file under `base`: (path, length, mtime). */
  private def listing(base: String): Seq[(String, Long, Long)] =
    Files.walk(Paths.get(base)).iterator.asScala
      .filter(Files.isRegularFile(_))
      .map(p => (p.toString, Files.size(p),
        Files.getLastModifiedTime(p).toMillis))
      .toSeq.sorted

  test("a replayed batch id starts no Spark job and leaves every append sink's artifact unchanged") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-sink-replay")
    def at(name: String): String = root.resolve(name).toString
    val rnd = new scala.util.Random(11)
    // local frames: building them starts no job either
    def vectors(ids: Range): DataFrame =
      ids.map(i => (i.toLong, Seq.fill(64)(rnd.nextFloat() - 0.5f)))
        .toDF("vec_id", "embedding")
    def docs(rem: Int): DataFrame =
      Tables(spark, sf, "documents").filter(col("doc_id") % 3 === rem)
        .select(col("doc_id"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
        .toDF("doc_id", "text")
    val (baseVecs, batchVecs) = (vectors(0 until 40), vectors(100 until 110))
    val (baseDocs, batchDocs) = (docs(1), docs(2))

    IndexIngest.bootstrap(IndexFamily.Ivf, at("ivf"), baseVecs)
    IndexIngest.bootstrap(CodeTable.Pq.over(at("ivf")), at("pq"), baseVecs)
    IndexIngest.bootstrap(IndexFamily.Bm25, at("bm25"), baseDocs)
    IndexIngest.bootstrap(IndexFamily.Lsh, at("lsh"), baseDocs)
    // delete batches name ids the bootstraps indexed
    val (vecIds, docIds) =
      (Seq(0L, 1L, 2L).toDF("vec_id"), Seq(1L, 4L, 7L).toDF("doc_id"))
    val sinks: Seq[(String, String, Long => Unit)] = Seq(
      ("ivf", "ivf", IndexIngest.appendSink(IndexFamily.Ivf, at("ivf"),
        DefaultApp)(batchVecs, _)),
      ("pq", "pq", IndexIngest.appendSink(CodeTable.Pq.over(at("ivf")), at("pq"))(
        batchVecs, _)),
      ("bm25", "bm25", IndexIngest.appendSink(IndexFamily.Bm25, at("bm25"),
        DefaultApp)(batchDocs, _)),
      ("lsh", "lsh", IndexIngest.appendSink(IndexFamily.Lsh, at("lsh"),
        DefaultApp)(batchDocs, _)),
      ("ivf delete", "ivf", IndexIngest.deleteSink(IndexFamily.Ivf, at("ivf"))(
        vecIds, _)),
      ("bm25 delete", "bm25", IndexIngest.deleteSink(IndexFamily.Bm25,
        at("bm25"))(docIds, _)),
      ("lsh delete", "lsh", IndexIngest.deleteSink(IndexFamily.Lsh,
        at("lsh"))(docIds, _)))
    sinks.foreach { case (label, name, sink) => withClue(s"$label: ") {
      sink(0L)
      val fp = ArtifactStore.currentFingerprint(at(name))
      val files = listing(at(name))
      assert(fp.isDefined)
      assert(jobsDuring(sink(0L))._2 === 0,
        "a replay must skip before fingerprinting the batch")
      assert(ArtifactStore.currentFingerprint(at(name)) === fp)
      assert(listing(at(name)) === files)
    } }
  }
}
