package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{IndexDelete, IndexFamily, Retrieval}

/** s10 BM25: full differential re-derivation. A driver-side naive
  * implementation (plain Scala maps over the collected fixture — no
  * Spark, no SQL) recomputes every integer-BM25 score and the exact
  * ranked top-5 per query; the distributed operator must reproduce it
  * row-for-row. This catches formula drift the DuckDB oracle alone
  * cannot (the oracle shares the SQL text's arithmetic; the naive
  * model shares only the SPEC).
  */
class RetrievalSpec extends AnyFunSuite {
  import SparkTestSession._

  /** `liveDoc` restricts the CANDIDATES only — corpus statistics (n,
    * t, df) stay full, which is exactly the pre-merge deleted-docs
    * state s33 serves. The default keeps the original s10 model. */
  private def naive(
      liveDoc: Long => Boolean = _ => true): Seq[(Long, Int, Long, Long)] = {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq))
      .toSeq.sortBy(_._1)
    val n = docs.size.toLong
    val t = docs.map(_._2.size.toLong).sum
    val tf: Map[(Long, String), Long] = docs.flatMap { case (id, ws) =>
      ws.groupBy(identity).map { case (w, occ) => (id, w) -> occ.size.toLong }
    }.toMap
    val df: Map[String, Long] =
      tf.keys.groupBy(_._2).map { case (w, ks) => w -> ks.size.toLong }
    val dl: Map[Long, Long] = docs.map { case (id, ws) => id -> ws.size.toLong }.toMap
    val queries = docs.filter { case (id, _) =>
      id % Retrieval.QueryMod == Retrieval.QueryRem }
    queries.flatMap { case (qid, qws) =>
      val scores = docs.filter(d => d._1 != qid && liveDoc(d._1))
        .flatMap { case (did, _) =>
        val qdistinct = qws.distinct
        val s = qdistinct.map { term =>
          tf.get((did, term)).fold(0L) { f =>
            val d = df(term)
            val idfE4 = (2 * n - 2 * d + 1) * 10000L / (2 * d + 1)
            val avgdlE3 = 1000L * t / n
            val relE3 = 1000000L * dl(did) / avgdlE3
            val tfnE6 = 22000L * f * 1000000L /
              (10000L * f + 3000L + 9L * relE3)
            ((BigInt(idfE4) * tfnE6) / 10000).toLong
          }
        }.sum
        // a candidate is any doc SHARING a term (it may still score 0 if
        // every shared term is ubiquitous — idf floored); a doc with no
        // shared terms never enters the posting join at all
        if (qdistinct.exists(term => tf.contains((did, term))))
          Some(did -> s)
        else None
      }
      scores.sortBy { case (did, s) => (-s, did) }
        .take(Retrieval.TopK).zipWithIndex
        .map { case ((did, s), i) => (qid, i + 1, did, s) }
    }
  }

  test("s10 BM25 matches a driver-side naive re-derivation exactly") {
    val got = Retrieval.s10Bm25TopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rn"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("score"))).toSeq
    val want = naive()
    assert(got.nonEmpty)
    assert(got == want)
  }

  test("s13 RRF fusion equals a driver-side fusion of its two halves") {
    val lex = Retrieval.bm25Ranked(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id")) ->
        r.getAs[Int]("rn")).toMap
    val den = Retrieval.denseRanked(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id")) ->
        r.getAs[Int]("den_rn")).toMap
    val want = (lex.keySet ++ den.keySet).groupBy(_._1).toSeq.flatMap {
      case (qid, keys) =>
        keys.toSeq.map { k =>
          val rrf = lex.get(k).fold(0L)(r => 1000000L / (Retrieval.RrfK + r)) +
            den.get(k).fold(0L)(r => 1000000L / (Retrieval.RrfK + r))
          (qid, k._2, rrf)
        }.sortBy { case (_, did, rrf) => (-rrf, did) }
          .take(Retrieval.TopK).zipWithIndex
          .map { case ((q, did, rrf), i) => (q, i + 1, did, rrf) }
    }.sortBy(t => (t._1, t._2))
    val got = Retrieval.s13HybridRrf(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rn"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("rrf"))).toSeq
    assert(got.nonEmpty)
    assert(got == want)
    // both retrievers must actually contribute somewhere
    val rows = Retrieval.s13HybridRrf(spark, sf).collect()
    assert(rows.exists(r => !r.isNullAt(r.fieldIndex("lex_rn"))))
    assert(rows.exists(r => !r.isNullAt(r.fieldIndex("den_rn"))))
  }

  test("s17 segmented incremental index equals the from-scratch index") {
    // the merge-at-query-time claim: a base segment + an appended
    // delta segment with segment-LOCAL statistics must score
    // BIT-IDENTICALLY to s10's single full-corpus index (segments
    // partition the docs, so df and totals sum exactly) — the property
    // that makes incremental append safe to serve
    val want = Retrieval.s10Bm25TopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rn"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("score"))).toSeq
    val got = Retrieval.s17IncrementalBm25(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rn"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("score"))).toSeq
    assert(got.nonEmpty)
    assert(got == want)
    // repeat touch from a "fresh JVM" (path cache forgotten): the
    // artifact is already at the union fingerprint — zero builds, zero
    // appends, and the delta segment is genuinely present
    Retrieval.bm25IncIndex.forget()
    val b0 = Retrieval.bm25IncIndex.builds.get()
    val a0 = Retrieval.bm25IncIndex.appends.get()
    Retrieval.s17IncrementalBm25(spark, sf).collect()
    assert(Retrieval.bm25IncIndex.builds.get() == b0,
      "repeat touch must not rebuild the base segment")
    assert(Retrieval.bm25IncIndex.appends.get() == a0,
      "repeat touch must not re-append the delta segment")
  }

  test("s33 pre-merge delete semantics match the naive live-candidate model exactly") {
    val got = Retrieval.s33Bm25Delete(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rn"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("score"))).toSeq
    assert(got.nonEmpty)
    // the spec model: candidates restricted to live docs, stats FULL
    // (the Lucene deleted-docs contract) — scores must match to the bit
    val want = naive(d => d % Retrieval.DelMod != Retrieval.DelRem)
    assert(got == want)
    // no deleted doc ever serves...
    got.foreach { case (_, _, did, _) =>
      assert(did % Retrieval.DelMod != Retrieval.DelRem,
        s"deleted doc $did served")
    }
    // ...and the delete set actually bit: s10 over the same corpus
    // must rank at least one deleted doc somewhere in its top-5
    val s10 = Retrieval.s10Bm25TopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rn"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("score"))).toSeq
    assert(s10 != got, "delete set never appeared in any s10 top-5")
    // batch deletes are idempotent through the dochash resolution
    val base = Retrieval.bm25TombIndexBase(spark, sf)
    import SparkTestSession.spark.implicits._
    assert(IndexDelete.applyDeletes(IndexFamily.Bm25, spark, base,
      Seq(Retrieval.DelRem, -5L).toDF("doc_id")) == 0L,
      "re-delete + unknown doc must remove nothing")
  }

  test("s10 results never include the query document and respect k") {
    val rows = Retrieval.s10Bm25TopK(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("query_id") != r.getAs[Long]("doc_id"))
      assert(r.getAs[Int]("rn") >= 1 && r.getAs[Int]("rn") <= Retrieval.TopK)
      assert(r.getAs[Long]("score") >= 0) // 0 only if all shared terms ubiquitous
    }
  }
}
