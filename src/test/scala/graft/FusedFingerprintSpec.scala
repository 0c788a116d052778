package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.graftbridge.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.ArtifactStore
import graft.llm.{Authority, Dedup, IndexDelete, IndexFamily, Retrieval,
  Similarity}

/** The fused fingerprint kernel (one scan for every predicate of an
  * artifact's pair) yields exactly the parts — and so the marker
  * strings — of one scan per predicate, for every pair an artifact
  * computes, on the fixture corpus and on an empty one. A marker
  * written before the kernel was fused therefore stays current. */
class FusedFingerprintSpec extends AnyFunSuite {
  import SparkTestSession._

  // one scan per predicate, as the artifacts fingerprinted before
  private def vecParts(df: DataFrame): (Long, Long) = {
    val r = df
      .select(xxhash64(to_json(struct(col("vec_id"), col("embedding"))))
        .as("h"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("s"))
      .collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def docParts(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(col("doc_id"), col("text")).as("h"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("s"))
      .collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private lazy val emptyDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_fp").toString
    Seq("documents", "embeddings").foreach { t =>
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          Tables(spark, sf, t).schema)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  /** (artifact kinds, frame, predicates, vector rows?) for every paired
    * fingerprint the artifacts compute. */
  private def pairs(dir: String): Seq[(String, DataFrame, Seq[Column], Boolean)] = {
    val emb = Tables(spark, dir, "embeddings")
    val docs = Tables(spark, dir, "documents")
    Seq(
      ("ivf-index-inc, pq-index-inc", emb,
        Seq(!Similarity.incBatchPred, Similarity.incBatchPred), true),
      ("ivf-tomb", Similarity.normed(spark, dir), Seq(lit(true),
        pmod(col("vec_id"), lit(IndexDelete.DeleteMod)) === IndexDelete.DeleteRes),
        true),
      ("bm25-index", docs, Seq(lit(true)), false),
      ("bm25-index-inc", docs,
        Seq(!Retrieval.incDocPred, Retrieval.incDocPred), false),
      ("bm25-tomb", docs, Seq(lit(true),
        pmod(col("doc_id"), lit(Retrieval.DelMod)) === lit(Retrieval.DelRem)),
        false),
      ("dedup-index-inc", docs,
        Seq(Dedup.dedupIncBasePred, Dedup.dedupIncBatchPred), false),
      ("dedup-tomb", docs.filter(col("doc_id") % 3 =!= 0), Seq(lit(true),
        col("doc_id") % Dedup.TakedownMod === Dedup.TakedownRem), false))
  }

  private def fused(df: DataFrame, preds: Seq[Column],
      vec: Boolean): Seq[(Long, Long)] =
    if (vec) IndexFamily.Ivf.partsWhere(df, preds: _*)
    else IndexFamily.Bm25.partsWhere(df, preds: _*)

  private def fp(parts: Seq[(Long, Long)]): Seq[String] =
    parts.map { case (n, x) => ArtifactStore.fingerprint(n, x) }

  Seq("sf0.001" -> (() => sf), "empty" -> (() => emptyDir)).foreach {
    case (label, dir) =>
      test(s"fused parts == per-predicate scans, every pair ($label corpus)") {
        pairs(dir()).foreach { case (kinds, df, preds, vec) =>
          val expected = preds.map(p =>
            if (vec) vecParts(df.filter(p)) else docParts(df.filter(p)))
          withClue(s"$kinds: ") {
            assert(fused(df, preds, vec) === expected)
            assert(fp(fused(df, preds, vec)) === fp(expected))
            if (label == "empty") assert(expected.forall(_ == ((0L, 0L))))
          }
        }
        // the single-frame kernels the streaming sinks call
        val emb = Tables(spark, dir(), "embeddings")
        val docs = Tables(spark, dir(), "documents")
        assert(IndexFamily.Ivf.parts(emb) === vecParts(emb))
        assert(IndexFamily.Bm25.parts(docs) === docParts(docs))
      }
  }

  test("labeled and click-event markers equal the per-frame kernels they replaced") {
    // one scan per frame, as these three kinds fingerprinted before
    def frameFp(df: DataFrame, h: Column): String = {
      val r = df.select(h.as("h"))
        .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("s"))
        .collect()(0)
      ArtifactStore.fingerprint(r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val clicks = Tables(spark, sf, "events")
      .filter(col("event_type") === "click")
    val eventHash = xxhash64(col("event_id"), col("user_id"), col("props"))
    val isNewEvent = col("event_id") % 10 === 6
    val isGen1Event = col("event_id") % 10 === 7
    val labeled = frameFp(Tables(spark, sf, "embeddings"),
      xxhash64(to_json(struct(col("vec_id"), col("embedding"), col("label")))))
    // g05's marker is fp(G1), derived from the disjoint sides G0 and
    // G1 \ G0; G1 is also g04's "old events" side
    val g1 = frameFp(clicks.filter(!isNewEvent), eventHash)
    assert(g1 != frameFp(clicks.filter(!isNewEvent && !isGen1Event), eventHash))
    Seq(
      (Similarity.lblPqIndex, () => Similarity.s27LabelPartitionedSearch(spark, sf), labeled),
      (Authority.prScores, () => Authority.g04WarmStartPageRank(spark, sf), g1),
      (Authority.rollScores, () => Authority.g05RollingPageRank(spark, sf), g1)
    ).foreach { case (a, query, expected) =>
      query().collect()
      assert(ArtifactStore.currentFingerprint(a.base(sf)).contains(expected),
        a.kind)
    }
  }

  test("a fused pair reads the corpus once") {
    val sc = spark.sparkContext
    val docs = Tables(spark, sf, "documents")
    val rows = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          rows.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      IndexFamily.Bm25.partsWhere(docs,
        !Retrieval.incDocPred, Retrieval.incDocPred)
      ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    assert(rows.get === docs.count())
  }
}
