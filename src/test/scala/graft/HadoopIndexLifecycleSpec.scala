package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.ArtifactStore
import graft.llm.CodeTable.Pq
import graft.stream.IndexIngest

/** `graftfs:`'s AbstractFileSystem binding — what gives FileContext
  * (and therefore the ATOMIC replace-rename the generation pointer
  * depends on) a home for the test scheme, exactly as HDFS ships
  * `Hdfs` next to `DistributedFileSystem`. */
class GraftTestAbstractFs(uri: java.net.URI,
    conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(
    uri, new GraftTestHadoopFs(), conf, "graftfs", false)

/** The WHOLE streaming index lifecycle — bootstrap → exactly-once
  * appends → streamed deletes → tombstone-aware serving → compaction
  * → generation-pointer pairs — driven end-to-end through the Hadoop
  * FileSystem binding, with Spark itself reading and writing parquet
  * through the same scheme. This is the deployment posture the store
  * refactor exists for: at 100 TB the artifacts live next to the data
  * on HDFS, and every artifact-internal consumer (replay marks,
  * tombstone probes, fragmentation checks, the CURRENT pointer) must
  * follow the store onto that filesystem — not just the publish
  * protocol. */
class HadoopIndexLifecycleSpec extends AnyFunSuite {
  import SparkTestSession._

  private val Scheme = GraftTestFs.Scheme

  private lazy val registered: Unit = {
    GraftTestFs.registered // the one shared, fully-configured instance
    // Spark-side: parquet IO through the scheme
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.$Scheme.impl", classOf[GraftTestHadoopFs].getName)
  }

  private def freshBase(name: String): String = {
    registered
    Scheme + ":" + java.nio.file.Files
      .createTempDirectory("graft-hlc").resolve(name).toString
  }

  test("bootstrap, append, delete, serve, compact — all through the Hadoop scheme") {
    import spark.implicits._
    val rnd = new scala.util.Random(55)
    def vec(): Seq[Float] = Seq.fill(64)(rnd.nextFloat() - 0.5f)
    val base = (0L until 120L).map(i => (i, vec()))
    val b1 = (200L until 220L).map(i => (i, vec()))
    val ivf = freshBase("ivf")
    val pq = freshBase("pq")
    assert(IndexIngest.bootstrap(ivf, base.toDF("vec_id", "embedding"))
      == IndexIngest.BootstrapStatus.Built)
    assert(IndexIngest.bootstrap(Pq, pq, ivf, base.toDF("vec_id", "embedding"))
      == IndexIngest.BootstrapStatus.Built)
    // exactly-once appends with replay marks living on graftfs:
    IndexIngest.ivfAppendSink(ivf)(b1.toDF("vec_id", "embedding"), 0L)
    IndexIngest.appendSink(Pq, pq, ivf)(b1.toDF("vec_id", "embedding"), 0L)
    def listCount() = spark.read
      .schema(graft.llm.Similarity.invertedListSchema)
      .parquet(s"$ivf/assignments").count()
    val grown = listCount()
    assert(grown == 140L, s"appends must land (got $grown)")
    // replay of the committed batch is a wholesale no-op
    IndexIngest.ivfAppendSink(ivf)(b1.toDF("vec_id", "embedding"), 0L)
    assert(listCount() == grown, "replay must not double-ingest")
    // streamed DELETE: tombstone append, O(deletes)
    val deleted = Set(5L, 17L, 204L)
    IndexIngest.ivfDeleteSink(ivf)(deleted.toSeq.toDF("vec_id"), 0L)
    assert(IndexIngest.tombstoneFiles(ivf) > 0,
      "the tombstone set must live on the Hadoop scheme")
    // serving excludes the deleted immediately (pre-pool cut + live
    // refine), straight off the graftfs artifacts
    // frames are rebuilt per call: a compaction swaps the part files
    // underneath, and a pre-compaction DataFrame pins the old listing
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
    // compaction physicalizes the deletes and resets the tombstones;
    // the served answer is unchanged (fingerprint-preserving rewrite)
    assert(IndexIngest.compactIvf(spark, ivf))
    assert(IndexIngest.tombstoneFiles(ivf) == 0,
      "compaction must clear the tombstone set")
    assert(listCount() == grown - deleted.size,
      "compaction must drop tombstoned rows physically")
    assert(served().toSet == before.toSet,
      "a layout rewrite must not change the served answer")
  }

  test("generation-pointer pair swaps atomically through the scheme") {
    import spark.implicits._
    val rnd = new scala.util.Random(56)
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
    // paired append lands on the current generation through the scheme
    val b1 = (100L until 110L).map(i => (i, vec()))
    IndexIngest.ivfAppendSinkPaired(pair)(b1.toDF("vec_id", "embedding"), 0L)
    IndexIngest.appendSinkPaired(Pq, pair)(b1.toDF("vec_id", "embedding"), 0L)
    val n = spark.read
      .schema(graft.llm.Similarity.invertedListSchema)
      .parquet(s"$iv/assignments").count()
    assert(n == 70L, s"paired append must land on g0 (got $n)")
    // the pointer file replace-swaps in place (FileContext OVERWRITE
    // path — a second bootstrap observes Current, proving the pointer
    // reads back whole)
    assert(IndexIngest.bootstrapPair(pair, base.toDF("vec_id", "embedding"))
      == IndexIngest.BootstrapStatus.KeptDivergent,
      "the grown generation differs from the offered corpus — observable")
  }
}
