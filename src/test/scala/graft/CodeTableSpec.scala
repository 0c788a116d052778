package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.ArtifactStore
import graft.llm.{CodeTable, IndexDelete, IndexFamily, Similarity}
import graft.llm.CodeTable.{Bq, Pq, Sq}
import graft.stream.IndexIngest

/** The streaming lifecycle every [[CodeTable]] kind shares, run once
  * per kind: bootstrap → streamed appends → replay → compaction policy
  * → compaction; and the paired-generation delete sink and the
  * generation guard all five paired sinks share. */
class CodeTableSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Every file under `base` with its size — the layout a declined
    * compaction must leave untouched. */
  private def layout(base: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(base)
    Files.walk(root).iterator.asScala.filter(Files.isRegularFile(_))
      .map((p: Path) => root.relativize(p).toString -> Files.size(p)).toMap
  }

  /** Part files per `cell=*` dir of the stored codes. */
  private def filesPerCell(base: String): Map[String, Int] =
    new java.io.File(s"$base/codes").listFiles().filter(_.isDirectory)
      .map(d => d.getName -> d.listFiles().count(_.getName.startsWith("part-")))
      .toMap

  /** The model dir a kind keeps beside its codes (BQ has none). */
  private val modelDir: Map[CodeTable, Option[String]] =
    Map(Pq -> Some("codebook"), Sq -> Some("params"), Bq -> None)

  for (t <- Seq(Pq, Sq, Bq)) {
    test(s"${t.member} code table: streamed appends, replay no-op, compaction policy and compaction") {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val rnd = new scala.util.Random(31)
      def vec(): Seq[Float] = Seq.fill(64)(rnd.nextFloat() - 0.5f)
      val baseVecs = (0L until 40L).map(i => (i, vec()))
      val b1 = (100L until 110L).map(i => (i, vec()))
      val b2 = (200L until 210L).map(i => (i, vec()))
      val root = Files.createTempDirectory(s"graft-codetable-${t.member}")
      val ivfIdx = root.resolve("ivf").toString
      val idx = root.resolve(t.member).toString
      IndexIngest.bootstrap(IndexFamily.Ivf, ivfIdx,
        baseVecs.toDF("vec_id", "embedding"))
      assert(IndexIngest.bootstrap(t.over(ivfIdx), idx,
        baseVecs.toDF("vec_id", "embedding")) == IndexIngest.BootstrapStatus.Built)
      def stored(): Set[Row] =
        spark.read.schema(t.schema).parquet(s"$idx/codes").collect().toSet
      assert(stored().size == 40)

      val src = MemoryStream[(Long, Seq[Float])]
      val q = src.toDS().toDF("vec_id", "embedding").writeStream
        .foreachBatch(IndexIngest.appendSink(t.over(ivfIdx), idx) _)
        .start()
      try {
        src.addData(b1); q.processAllAvailable()
        assert(stored().size == 50, "batch 1 codes must be appended")
        src.addData(b2); q.processAllAvailable()
        assert(stored().size == 60, "batch 2 codes must be appended")
      } finally q.stop()

      // exactly-once: a replayed committed batch id is a wholesale no-op
      val fp = ArtifactStore.currentFingerprint(idx)
      val rows = stored()
      val before = layout(idx)
      IndexIngest.appendSink(t.over(ivfIdx), idx)(b2.toDF("vec_id", "embedding"), 1L)
      assert(stored() == rows, "a replay must not double-ingest")
      assert(layout(idx) == before, "a replay must write nothing")
      assert(ArtifactStore.currentFingerprint(idx) == fp)

      // the policy: below the threshold it declines and touches nothing
      val frag = IndexIngest.fragmentation(idx, "codes")
      assert(frag > 1,
        "the appends must leave multi-file cells to make compaction real")
      assert(!IndexIngest.maybeCompact(t.over(ivfIdx), spark, idx,
        maxFilesPerCell = frag + 1))
      assert(layout(idx) == before, "a declined compaction must not rewrite")
      // at the threshold: one file per cell, same fingerprint and rows
      assert(IndexIngest.maybeCompact(t.over(ivfIdx), spark, idx,
        maxFilesPerCell = frag))
      assert(filesPerCell(idx).values.forall(_ == 1),
        s"compaction must leave one file per cell, got ${filesPerCell(idx)}")
      assert(ArtifactStore.currentFingerprint(idx) == fp,
        "compaction is layout-only: the content fingerprint must not move")
      assert(stored() == rows, "compaction must not change the rows")
      // the unstaged model dir survives the publish byte for byte
      modelDir(t).foreach { m =>
        val model = before.filter(_._1.startsWith(m + "/"))
        assert(model.nonEmpty, s"${t.member} must keep a $m dir")
        assert(layout(idx).filter(_._1.startsWith(m + "/")) == model,
          s"the unstaged $m dir must survive compaction")
      }
      assert(IndexIngest.fragmentation(idx, "codes") == 1)
    }
  }

  test("a delete on a code table does not compile: the delete verbs take an IndexFamily") {
    assertCompiles("IndexIngest.deleteSink(IndexFamily.Ivf, \"ivf\") _")
    assertCompiles(
      "IndexDelete.applyDeletes(IndexFamily.Ivf, spark, \"ivf\", spark.emptyDataFrame)")
    assertDoesNotCompile("IndexIngest.deleteSink(Pq.over(\"ivf\"), \"pq\") _")
    assertDoesNotCompile(
      "IndexDelete.applyDeletes(Sq.over(\"ivf\"), spark, \"sq\", spark.emptyDataFrame)")
    assertDoesNotCompile(
      "IndexDelete.removalPlan(Bq.over(\"ivf\"), spark, \"bq\", spark.emptyDataFrame)")
  }

  test("ivfDeleteSinkPaired tombstones the current generation's IVF base only") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    def vec(): Seq[Float] = Seq.fill(64)(rnd.nextFloat() - 0.5f)
    val vecs = (0L until 48L).map(i => (i, vec()))
    val pair = Files.createTempDirectory("graft-pair-delete").toString
    IndexIngest.bootstrapPair(pair, vecs.toDF("vec_id", "embedding"))
    val (ivfBase, pqBase) = IndexIngest.resolvePair(pair)
    val panel = IndexDelete.liveListsAt(spark, ivfBase)
      .select(col("vec_id"), col("embedding"), col("norm"))
      .localCheckpoint(true)
    def served(): Set[Long] =
      Similarity.serveFrom(Pq, spark, panel, ivfBase, pqBase)
        .select("neighbor_id").collect().map(_.getLong(0)).toSet
    // delete two ids the pair serves today, so the cut is observable
    val victims = served().toSeq.sorted.take(2)
    assert(victims.size == 2)
    val ivfFp = ArtifactStore.currentFingerprint(ivfBase)
    val pqFp = ArtifactStore.currentFingerprint(pqBase)
    val del = victims.toDF("vec_id")
    IndexIngest.ivfDeleteSinkPaired(pair)(del, 0L)

    assert(IndexDelete.tombstonesAt(spark, ivfBase)
      .collect().map(_.getLong(0)).toSet == victims.toSet)
    assert(!Files.exists(java.nio.file.Paths.get(pqBase, "tombstones")),
      "tombstones land on the IVF base only")
    def marks(base: String): String =
      Files.readString(java.nio.file.Paths.get(base, "stream_state"))
    assert(marks(ivfBase).linesIterator.contains(
      s"${IndexIngest.DeleteMarkPrefix}${IndexIngest.DefaultApp}\t0"))
    assert(!Files.exists(java.nio.file.Paths.get(pqBase, "stream_state")) ||
      !marks(pqBase).contains(IndexIngest.DeleteMarkPrefix),
      "the del: mark lives on the IVF base only")
    val ivfFpAfter = ArtifactStore.currentFingerprint(ivfBase)
    assert(ivfFpAfter.isDefined && ivfFpAfter != ivfFp,
      "the delete moves the IVF fingerprint")
    assert(ArtifactStore.currentFingerprint(pqBase) == pqFp)

    // a replay of the committed delete batch is a no-op
    val tombFiles = IndexIngest.tombstoneFiles(ivfBase)
    IndexIngest.ivfDeleteSinkPaired(pair)(del, 0L)
    assert(IndexIngest.tombstoneFiles(ivfBase) == tombFiles)
    assert(ArtifactStore.currentFingerprint(ivfBase) == ivfFpAfter)

    // the pair's query-frame server no longer returns the deleted ids
    val after = served()
    assert(after.nonEmpty)
    assert(victims.forall(v => !after.contains(v)),
      s"deleted ids still served: ${victims.filter(after.contains)}")
    graft.Checkpoints.release(panel)
  }

  test("every paired sink fails a batch whose generation moved under its commit") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    def vec(): Seq[Float] = Seq.fill(64)(rnd.nextFloat() - 0.5f)
    val pair = Files.createTempDirectory("graft-pair-guard").toString
    IndexIngest.bootstrapPair(pair,
      (0L until 40L).map(i => (i, vec())).toDF("vec_id", "embedding"),
      derived = Seq(Sq, Bq))
    val current = java.nio.file.Paths.get(pair, "CURRENT")
    // reading the batch moves the pointer: the commit lands on g0, and
    // the guard after it must see g1
    val moveOnRead = udf { (id: Long) => Files.writeString(current, "g1"); id }
      .asNondeterministic()
    val vecs = (100L until 105L).map(i => (i, vec())).toDF("vec_id", "embedding")
      .withColumn("vec_id", moveOnRead(col("vec_id")))
    val ids = Seq(1L, 2L).toDF("vec_id")
      .withColumn("vec_id", moveOnRead(col("vec_id")))
    val sinks: Seq[(String, (org.apache.spark.sql.DataFrame, Long) => Unit,
        org.apache.spark.sql.DataFrame)] = Seq(
      ("ivf", IndexIngest.appendSinkPaired(IndexFamily.Ivf, pair) _, vecs),
      ("pq", IndexIngest.appendSinkPaired(Pq, pair) _, vecs),
      ("sq", IndexIngest.appendSinkPaired(Sq, pair) _, vecs),
      ("bq", IndexIngest.appendSinkPaired(Bq, pair) _, vecs),
      ("ivf delete", IndexIngest.ivfDeleteSinkPaired(pair) _, ids))
    sinks.foreach { case (name, sink, batch) =>
      Files.writeString(current, "g0")
      val e = intercept[IllegalStateException](sink(batch, 0L))
      assert(e.getMessage.contains("swapped g0 -> g1"), s"$name: $e")
    }
  }
}
