package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.ArtifactStore
import graft.llm.CodeTable.Pq
import graft.stream.IndexIngest

/** The `casfs:` data plane for Spark: parquet bytes ride a scheme-
  * bound RawLocalFileSystem (same disk the [[DiskObjectStore]] lists),
  * while every artifact-internal coordination touch — locks, markers,
  * replay marks, generation pointers — goes through [[graft.io.CasFs]]
  * conditional writes. Exactly the split a real S3 deployment has:
  * executors stream parquet through the store's data path; the driver
  * coordinates through CAS metadata operations. */
class GraftCasDataFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("casfs:///")
}

/** The WHOLE streaming index lifecycle — bootstrap → exactly-once
  * appends → streamed deletes → tombstone-aware serving → compaction
  * → generation-pointer pairs — driven end-to-end through the
  * OBJECT-STORE binding (VERDICT r13 #1): the last deployment posture,
  * where most 100 TB corpora actually live. Everything
  * HadoopIndexLifecycleSpec proves through rename-based publish is
  * re-proven here through conditional-put coordination with rename
  * degraded to copy+delete. */
class CasIndexLifecycleSpec extends AnyFunSuite {
  import SparkTestSession._

  private val Scheme = GraftCasStore.Scheme

  private lazy val registered: Unit = {
    GraftCasStore.registered
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.$Scheme.impl", classOf[GraftCasDataFs].getName)
  }

  private def freshBase(name: String): String = {
    registered
    Scheme + ":" + java.nio.file.Files
      .createTempDirectory("graft-clc").resolve(name).toString
  }

  test("bootstrap, append, delete, serve, compact — all through CAS") {
    import spark.implicits._
    val rnd = new scala.util.Random(57)
    def vec(): Seq[Float] = Seq.fill(64)(rnd.nextFloat() - 0.5f)
    val base = (0L until 120L).map(i => (i, vec()))
    val b1 = (200L until 220L).map(i => (i, vec()))
    val ivf = freshBase("ivf")
    val pq = freshBase("pq")
    assert(IndexIngest.bootstrap(ivf, base.toDF("vec_id", "embedding"))
      == IndexIngest.BootstrapStatus.Built)
    assert(IndexIngest.bootstrap(Pq, pq, ivf, base.toDF("vec_id", "embedding"))
      == IndexIngest.BootstrapStatus.Built)
    IndexIngest.ivfAppendSink(ivf)(b1.toDF("vec_id", "embedding"), 0L)
    IndexIngest.appendSink(Pq, pq, ivf)(b1.toDF("vec_id", "embedding"), 0L)
    def listCount() = spark.read
      .schema(graft.llm.Similarity.invertedListSchema)
      .parquet(s"$ivf/assignments").count()
    val grown = listCount()
    assert(grown == 140L, s"appends must land (got $grown)")
    IndexIngest.ivfAppendSink(ivf)(b1.toDF("vec_id", "embedding"), 0L)
    assert(listCount() == grown, "replay must not double-ingest")
    val deleted = Set(5L, 17L, 204L)
    IndexIngest.ivfDeleteSink(ivf)(deleted.toSeq.toDF("vec_id"), 0L)
    assert(IndexIngest.tombstoneFiles(ivf) > 0,
      "the tombstone set must live on the CAS scheme")
    def served() = {
      val panel = spark.read
        .schema(graft.llm.Similarity.invertedListSchema)
        .parquet(s"$ivf/assignments")
        .filter(col("vec_id") % 4 === 0 &&
          !col("vec_id").isin(deleted.toSeq: _*))
        .select(col("vec_id"), col("embedding"), col("norm"))
      graft.llm.Similarity
        .serveFrom(Pq, spark, panel, ivf, pq)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    val before = served()
    assert(before.nonEmpty)
    assert(!before.exists(r => deleted(r._2)),
      "tombstoned ids must not be served")
    assert(IndexIngest.compactIvf(spark, ivf))
    assert(IndexIngest.tombstoneFiles(ivf) == 0,
      "compaction must clear the tombstone set")
    assert(listCount() == grown - deleted.size,
      "compaction must drop tombstoned rows physically")
    assert(served().toSet == before.toSet,
      "a layout rewrite must not change the served answer")
  }

  test("generation-pointer pair swaps atomically through per-object puts") {
    import spark.implicits._
    val rnd = new scala.util.Random(58)
    def vec(): Seq[Float] = Seq.fill(64)(rnd.nextFloat() - 0.5f)
    val base = (0L until 60L).map(i => (i, vec()))
    val pair = freshBase("pair")
    assert(IndexIngest.bootstrapPair(pair, base.toDF("vec_id", "embedding"))
      == IndexIngest.BootstrapStatus.Built)
    assert(IndexIngest.currentGen(pair).contains("g0"))
    val (iv, pq) = IndexIngest.resolvePair(pair)
    assert(iv.startsWith(Scheme + ":") && pq.startsWith(Scheme + ":"),
      "the resolved pair must stay on the scheme")
    assert(ArtifactStore.currentFingerprint(iv).isDefined)
    val b1 = (100L until 110L).map(i => (i, vec()))
    IndexIngest.ivfAppendSinkPaired(pair)(b1.toDF("vec_id", "embedding"), 0L)
    IndexIngest.appendSinkPaired(Pq, pair)(b1.toDF("vec_id", "embedding"), 0L)
    val n = spark.read
      .schema(graft.llm.Similarity.invertedListSchema)
      .parquet(s"$iv/assignments").count()
    assert(n == 70L, s"paired append must land on g0 (got $n)")
    // the pointer file replace-swaps by unconditional per-object put
    // (atomic on S3-class stores — replaceIsAtomic is true here)
    assert(IndexIngest.bootstrapPair(pair, base.toDF("vec_id", "embedding"))
      == IndexIngest.BootstrapStatus.KeptDivergent,
      "the grown generation differs from the offered corpus — observable")
  }
}
