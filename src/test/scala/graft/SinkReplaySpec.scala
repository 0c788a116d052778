package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.ArtifactStore
import graft.llm.CodeTable
import graft.stream.IndexIngest

/** Replaying a committed batch id through an append sink (what a
  * restarted streaming query does with its last uncommitted batch) is
  * a wholesale no-op that starts no Spark job: the replay check runs
  * before the batch is fingerprinted, and the artifact's fingerprint
  * and files are untouched. */
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

    IndexIngest.bootstrap(at("ivf"), baseVecs)
    IndexIngest.bootstrap(CodeTable.Pq, at("pq"), at("ivf"), baseVecs)
    IndexIngest.bm25Bootstrap(at("bm25"), baseDocs)
    IndexIngest.lshBootstrap(at("lsh"), baseDocs)
    val sinks: Seq[(String, Long => Unit)] = Seq(
      "ivf" -> (IndexIngest.ivfAppendSink(at("ivf"))(batchVecs, _)),
      "pq" -> (IndexIngest.appendSink(CodeTable.Pq, at("pq"), at("ivf"))(
        batchVecs, _)),
      "bm25" -> (IndexIngest.bm25AppendSink(at("bm25"))(batchDocs, _)),
      "lsh" -> (IndexIngest.lshAppendSink(at("lsh"))(batchDocs, _)))
    sinks.foreach { case (name, sink) => withClue(s"$name: ") {
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
