package graft.llm

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{Query, Tables}

/** Lexical retrieval over the `documents` fixture — the sparse
  * counterpart to [[Similarity]]'s dense s-series (a training-data
  * pipeline retrieves both ways: embedding ANN for semantic near-dup /
  * mining, BM25 for keyword search, decontamination audits and hybrid
  * reranking; the reference delegates all scoring to opaque user
  * scripts, cf. `/root/reference/R/DataFrameOperationR.R:452-520`).
  *
  * Scoring is Okapi BM25 (Robertson et al., TREC-3) with k1=1.2,
  * b=0.75, re-expressed in EXACT integer arithmetic so the DuckDB
  * oracle replays it bit-for-bit (same convention as t05's rational
  * idf and t09's integer surprisal — no `ln`, no cross-engine libm
  * drift, and BIGINT sums are order-free where double sums are not):
  *
  *  - `idf_e4  = (2N − 2df + 1)·10⁴ DIV (2df + 1)` — BM25's
  *    `ln((N − df + ½)/(df + ½))` argument as a rational in 1e-4 units
  *    (monotone in the real idf; floors to 0 when df ≈ N — the
  *    Lucene-style non-negative clamp for ubiquitous terms).
  *  - `avgdl_e3 = 1000·T DIV N`, `rel_e3 = 10⁶·dl DIV avgdl_e3` — the
  *    document's relative length in 1e-3 units. Normalizing through
  *    avgdl FIRST keeps every operand bounded: the naive
  *    multiply-through form (`22·T·tf·10⁶ / (10·T·tf + 3·T + 9·dl·N)`)
  *    overflows a Long once T·tf passes ~4·10¹¹ — i.e. at exactly the
  *    corpus sizes this engine targets.
  *  - `tfn_e6 = 22000·tf·10⁶ DIV (10⁴·tf + 3000 + 9·rel_e3)` — the tf
  *    saturation `tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl))`, denominator
  *    scaled by 1000 so the relative-length term keeps 3 decimals.
  *  - per-(query, doc) `score = Σ_t idf_e4·tfn_e6 DIV 10⁴` — the
  *    75-bit product never materializes: a split-product identity
  *    (see [[bm25Ranked]]) computes the quotient exactly in Long
  *    arithmetic, keeping the scoring loop in whole-stage codegen's
  *    fast integer path. Every intermediate is pinned overflow-free
  *    against BigInt re-computation in PropertySpec.
  *
  * PRECONDITIONS the bounds assume: T ≤ 9·10¹⁵ corpus tokens (a 100 TB
  * text corpus is ~2.5·10¹³), dl ≤ 10⁸ tokens/doc, tf ≤ 10⁶, N ≤ 10¹².
  * The summed score stays inside a Long for N ≤ 10⁹ with ≤ 10³-term
  * queries (rare-term contributions ≤ 1.5·10¹⁵ each); at larger N,
  * shard the index — which a 10⁹⁺-doc corpus does anyway.
  *
  * Query workload: every document with `doc_id % 100 == 7` queries the
  * corpus with its distinct terms (query tf ignored — the standard
  * short-query convention), self-match excluded, top-5 by score desc /
  * doc_id asc.
  *
  * Plan at 100 TB: a textbook inverted-index retrieval with the index
  * as a PERSISTED ARTIFACT ([[bm25IndexBase]]) —
  *  - the BUILD (once per corpus): ONE corpus-wide (doc,term)
  *    aggregate makes the postings (tf), map-side partial; df rides a
  *    term-keyed window count over the same postings (no second
  *    corpus pass), and the result is written term-hash-bucketed with
  *    df pre-joined;
  *  - the PROBE (every query): a postings scan ⋈ broadcast query
  *    terms (no term-keyed shuffle of the corpus against the
  *    queries); corpus totals ride the artifact's 1-row broadcast
  *    frame; the only keyed exchanges are the candidate-sized
  *    (query_id, doc_id) sum + the per-query window — both scale with
  *    matches, not with the corpus.
  * The plan test pins all of this: no shuffled join anywhere, ZERO
  * corpus-shaped exchanges in the probe plan, ≤ 4 keyed exchanges
  * total; the build-once contract is pinned via [[bm25Index]]'s
  * build counter.
  */
object Retrieval {

  /** Query selector: documents with `doc_id % QueryMod == QueryRem`. */
  val QueryMod = 100L
  val QueryRem = 7L

  /** Results per query. */
  val TopK = 5

  def s10Bm25TopK(spark: SparkSession, dir: String): DataFrame =
    bm25Ranked(spark, dir).orderBy(col("query_id"), col("rn"))

  /** Term-hash bucket count for the stored postings layout: enough
    * dirs that a probe's literal bucket set prunes most of the index,
    * few enough that a 100 TB vocabulary doesn't explode the
    * filesystem into per-term directories. */
  val PostingBuckets = 64L

  /** The persisted BM25 index — the lexical twin of
    * [[Similarity.ivfIndexBase]]. Layout under one base dir:
    *
    *  - `postings/` — `(doc_id, dl, term, tf, df) PARTITIONED BY
    *    tbucket` (xxhash64(term) mod [[PostingBuckets]]): the inverted
    *    index with document frequency PRE-JOINED, so the probe plan
    *    carries no corpus aggregate and no term-keyed window — the
    *    whole corpus-sized pipeline (tokenize → tf groupBy → df
    *    window) runs once per corpus, not once per query;
    *  - `totals/` — the 1-row `(n_docs, t_tokens)` frame.
    *
    * Everything stored is an exact integer, so parquet round-trips
    * bit-identically and the unchanged DuckDB oracles (which replay
    * the build chain in SQL) still hash-match every probe. */
  private[graft] val bm25Index = graft.io.Artifact("bm25-index")

  private[graft] def bm25IndexBase(spark: SparkSession, dir: String): String = {
    lazy val d = Tables(spark, dir, "documents")
    bm25Index.ensure(dir)(IndexFamily.Bm25.parts(d))(
      writeSegment(d, None, _))
  }

  /** Declared, not inferred — an empty corpus writes a file-less
    * partitioned dir (the EmptyInputSpec contract), and an index
    * reader knows its format. */
  private val postingsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id", LongType),
    org.apache.spark.sql.types.StructField("dl", LongType),
    org.apache.spark.sql.types.StructField("term",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("tf", LongType),
    org.apache.spark.sql.types.StructField("df", LongType),
    org.apache.spark.sql.types.StructField("tbucket", LongType)))

  private[graft] def bm25Postings(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(postingsSchema)
      .parquet(s"${bm25IndexBase(spark, dir)}/postings")
      .select(col("doc_id"), col("dl"), col("term"), col("tf"), col("df"))

  private[graft] def bm25Totals(spark: SparkSession, dir: String): DataFrame =
    graft.io.Load.parquet(spark, s"${bm25IndexBase(spark, dir)}/totals")

  /** The s10 core without the presentation sort — shared with
    * [[s13HybridRrf]], which re-joins the ranked list and must not pay
    * (or have Catalyst discard) a mid-plan global order. The postings
    * and totals are READ from the persisted index ([[bm25IndexBase]] —
    * built at most once per corpus); the probe plan is a postings scan
    * ⋈ broadcast query terms + the candidate-sized score/topk
    * exchanges, nothing corpus-shaped (pinned in ScaleDesignSpec). */
  private[graft] def bm25Ranked(spark: SparkSession, dir: String): DataFrame = {
    val postings = bm25Postings(spark, dir)
    // corpus totals from the artifact's 1-row frame
    val totals = bm25Totals(spark, dir)
    val cand = postings
      .join(broadcast(queryTerms(spark, dir)), "term")
      .filter(col("doc_id") =!= col("query_id"))
    okapiRank(cand, totals)
  }

  /** The query workload both index variants serve: distinct terms of
    * every `doc_id % QueryMod == QueryRem` document. */
  private def queryTerms(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .filter(pmod(col("doc_id"), lit(QueryMod)) === QueryRem)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(col("ws"))).as("term"))

  /** The integer Okapi scoring tail shared by s10 and s17: candidates
    * carry `(query_id, doc_id, dl, tf, df)`; `totals` is the 1-row
    * `(n_docs, t_tokens)` broadcast frame. Returns the per-query
    * ranked top-k (no presentation sort). */
  private def okapiRank(cand: DataFrame, totals: DataFrame): DataFrame = {
    val scored = cand
      .crossJoin(broadcast(totals))
      .withColumn("idf_e4",
        expr("(2*n_docs - 2*df + 1) * 10000L DIV (2*df + 1)"))
      // the T ≤ 9·10¹⁵ precondition (scaladoc) is ENFORCED here, not
      // assumed: 1000·t_tokens sits within 2.5% of Long.MaxValue at the
      // bound, so a corpus past it would overflow silently. The guard
      // lives inside the consumed expression (a dropped assertion
      // column would be pruned away); it costs one comparison on the
      // 1-row broadcast totals, replicated per scored row by codegen.
      .withColumn("rel_e3",
        expr("(1000000L * dl) DIV (1000L * (CASE " +
          "WHEN t_tokens <= 9000000000000000L THEN t_tokens " +
          "ELSE raise_error('BM25 precondition violated: corpus has > " +
          "9e15 tokens — shard the index (scaladoc bounds)') END) " +
          "DIV n_docs)"))
      .withColumn("tfn_e6",
        expr("(22000L * tf * 1000000L) DIV " +
          "(10000L*tf + 3000L + 9L*rel_e3)"))
      .groupBy(col("query_id"), col("doc_id"))
      // (idf_e4·tfn_e6) DIV 1e4 in pure BIGINT via the split-product
      // identity: with idf_e4 = qH·10⁸ + qL, the qH addend is divisible
      // by 10⁴, so the quotient decomposes EXACTLY into
      // qH·10⁴·tfn + (qL·tfn) DIV 10⁴ — no carry term. Both addends
      // stay under 2⁶³ across the documented domain (PropertySpec pins
      // equality with the BigInt product). A DECIMAL(20,0) product
      // computes the same value but benches 4× slower end-to-end
      // (decimal per-row math off the fast path), so the hot path
      // stays all-Long; DuckDB's oracle keeps the HUGEINT form —
      // identical results either way.
      .agg(sum(expr(
        "(idf_e4 div 100000000) * 10000 * tfn_e6 + " +
          "((idf_e4 % 100000000) * tfn_e6) div 10000"))
        .as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= TopK)
      .select(col("query_id"), col("rn"), col("doc_id"), col("score"))
  }

  // --------------------------------------------------------------- s17

  /** The incremental split: "yesterday's corpus" (the base segment the
    * index was built over) vs "tonight's crawl batch" (appended as a
    * DELTA segment — ~1/9 of the docs, a realistic nightly fraction). */
  private[graft] val incDocPred = col("doc_id") % 9 === 4

  private[graft] val bm25IncIndex = graft.io.Artifact("bm25-index-inc")

  /** One SEGMENT of an index over `docs`: postings (tf + df **local
    * to the segment's docs**) and the segment's 1-row totals, each
    * tagged with `seg` when given (the single-segment `bm25-index`
    * carries no tag). The df window and totals aggregate scan only
    * `docs` — appending a batch never re-reads the indexed corpus,
    * which is the whole point (Lucene's segment model: each segment
    * carries its own stats, merged at query time). */
  private def segmentPostingsFrame(
      docs: DataFrame, seg: Option[String]): (DataFrame, DataFrame) = {
    def tagged(df: DataFrame) = seg.fold(df)(s => df.withColumn("seg", lit(s)))
    val d = docs.withColumn("ws", split(col("text"), " "))
    // dl rides the groupBy key: doc_id determines it, so the wider
    // key costs nothing and saves a postings⋈lengths join
    val tf = d.select(col("doc_id"),
        size(col("ws")).cast(LongType).as("dl"),
        explode(col("ws")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // tf is already distinct per (doc, term), so df is a per-term
    // count of it — attached as a WINDOW over the postings rather
    // than a second groupBy + join-back: Catalyst cannot share one
    // corpus aggregate between two consuming branches (column
    // pruning makes the subtrees differ, defeating ReuseExchange),
    // so the agg+join form scans and shuffles the corpus twice.
    // The window form pays one term-keyed exchange over the
    // postings instead; a stopword's posting list is one window
    // partition (sorter spills — same skew trade as d15,
    // acceptable for a count)
    val postings = tagged(tf.withColumn("df",
        count(lit(1)).over(Window.partitionBy(col("term")))))
      .withColumn("tbucket",
        pmod(xxhash64(col("term")), lit(PostingBuckets)))
    val totals = tagged(d.agg(count(lit(1)).as("n_docs"),
        sum(size(col("ws")).cast(LongType)).as("t_tokens")))
    (postings, totals)
  }

  /** Write `docs` as one segment ([[segmentPostingsFrame]]) under
    * `into`: `postings/` term-hash bucketed, `totals/` one file.
    * `SaveMode.Append` adds a delta segment to a live index, writing
    * only into the batch's bucket dirs — the entry point the streaming
    * sink uses too (each micro-batch becomes one segment). */
  private[graft] def writeSegment(docs: DataFrame, seg: Option[String],
      into: String, mode: SaveMode = SaveMode.Overwrite): Unit = {
    val (p, t) = segmentPostingsFrame(docs, seg)
    graft.io.Store.writePartitionedParquet(p, s"$into/postings",
      Seq("tbucket"), Seq("term", "doc_id"), mode)
    t.coalesce(1).write.mode(mode).parquet(s"$into/totals")
  }

  /** The INCREMENTAL BM25 index artifact behind
    * [[s17IncrementalBm25]] — [[graft.io.Artifact
    * .ensureIncremental]] over two segments: the base segment is built
    * once; the batch is folded in by appending a delta segment whose
    * postings carry segment-LOCAL df, written only into its term-hash
    * bucket dirs; per-term df and corpus totals are merged at query
    * time ([[s17IncrementalBm25]]), so the merged scores equal a
    * from-scratch full-corpus index EXACTLY (segments partition the
    * docs: df_full = Σ df_seg, totals_full = Σ totals_seg, tf/dl are
    * per-doc) — which is why s17's oracle IS s10's SQL. The union
    * fingerprint is derived `(nA+nB, xA^xB)` from one fused base+batch
    * scan of the table on a memo miss: the nightly job tokenizes and
    * writes only the batch, but its fingerprint pass reads the whole
    * corpus once. */
  private def bm25IncIndexBase(spark: SparkSession, dir: String): String = {
    lazy val d = Tables(spark, dir, "documents")
    lazy val Seq(base, batch) =
      IndexFamily.Bm25.partsWhere(d, !incDocPred, incDocPred)
    bm25IncIndex.ensureIncremental(dir)(base, batch)(
      writeSegment(d.filter(!incDocPred), Some("base"), _))(
      writeSegment(d.filter(incDocPred), Some("delta"), _, SaveMode.Append))
  }

  private[graft] val segPostingsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id", LongType),
    org.apache.spark.sql.types.StructField("dl", LongType),
    org.apache.spark.sql.types.StructField("term",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("tf", LongType),
    org.apache.spark.sql.types.StructField("df", LongType),
    org.apache.spark.sql.types.StructField("seg",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("tbucket", LongType)))

  /** s17: BM25 over the incrementally-updated index — tonight's crawl
    * batch was appended as a delta segment with NO touch of the base
    * segment (build/append counters pinned flat on repeat runs);
    * segment-local statistics merge at query time:
    *
    *  - `df_full(term) = Σ_seg df_seg(term)` — computed over the
    *    candidate postings BEFORE self-match exclusion (a segment
    *    whose only match for a term is the query doc itself still
    *    counts toward df) and broadcast back: query-vocabulary-sized,
    *    never corpus-sized;
    *  - totals = the segment totals frame summed (2 rows → 1).
    *
    * Because the segments partition the corpus, the merged scores are
    * BIT-IDENTICAL to a from-scratch index over all docs — the oracle
    * is s10's full-corpus SQL verbatim, and RetrievalSpec pins
    * s17 == s10 row-for-row. */
  def s17IncrementalBm25(spark: SparkSession, dir: String): DataFrame =
    segmentedBm25Ranked(spark, dir, bm25IncIndexBase(spark, dir))
      .orderBy(col("query_id"), col("rn"))

  /** BM25 over ANY segmented index at `base` (the s17 two-segment
    * artifact, or the N-segment one the streaming sink grows): the
    * per-term df and corpus totals merge over however many segments
    * the artifact holds — because segments partition the docs, the
    * merged scores always equal a from-scratch single index
    * (`Σ_seg df_seg`, `Σ_seg totals_seg`). Query workload from `dir`'s
    * documents table, same contract as s10. */
  private[graft] def segmentedBm25Ranked(
      spark: SparkSession, dir: String, base: String): DataFrame = {
    val postings = spark.read.schema(segPostingsSchema)
      .parquet(s"$base/postings")
      .select(col("doc_id"), col("dl"), col("term"), col("tf"),
        col("df"), col("seg"))
    val totals = graft.io.Load.parquet(spark, s"$base/totals")
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("t_tokens")).as("t_tokens"))
    val cand0 = postings.join(broadcast(queryTerms(spark, dir)), "term")
    val dfTotal = cand0.select(col("term"), col("seg"), col("df"))
      .distinct()
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
    val cand1 = cand0.filter(col("doc_id") =!= col("query_id"))
      .drop("df", "seg")
      .join(broadcast(dfTotal), "term")
    // pre-merge delete semantics on a tombstone-bearing index
    // ([[graft.stream.IndexIngest.deleteSink]]): deleted docs are
    // cut from the CANDIDATES only — df/totals keep counting them
    // until the merge (the s33 Lucene contract); an undeleted index
    // keeps the bare plan
    okapiRank(IndexDelete.liveById(spark, base, cand1, "doc_id"), totals)
  }

  /** Oracle CTE chain shared by s10 and s13: the same postings/df/totals
    * derivation and the same integer BM25 arithmetic (`//` ≡ Spark's
    * `DIV` on non-negative operands); SUM cast back to BIGINT (DuckDB
    * widens to HUGEINT). Ends with `ranked` (rn over score desc). */
  private[llm] val bm25Cte: String =
    s"""WITH t AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS dl,
       |    unnest(string_split(text, ' ')) AS term
       |  FROM documents
       |), tf AS (
       |  SELECT doc_id, dl, term, COUNT(*) AS tf FROM t GROUP BY 1, 2, 3
       |), dfreq AS (
       |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
       |), tot AS (
       |  SELECT COUNT(*) AS n_docs,
       |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS t_tokens
       |  FROM documents
       |), q AS (
       |  SELECT doc_id AS query_id,
       |    unnest(list_distinct(string_split(text, ' '))) AS term
       |  FROM documents WHERE doc_id % $QueryMod = $QueryRem
       |), scored AS (
       |  SELECT query_id, doc_id,
       |    CAST(SUM(CAST(idf_e4 AS HUGEINT) * tfn_e6 // 10000)
       |      AS BIGINT) AS score
       |  FROM (
       |    SELECT q.query_id, f.doc_id,
       |      (2*n_docs - 2*df + 1) * 10000 // (2*df + 1) AS idf_e4,
       |      (22000 * tf * 1000000) // (10000*tf + 3000
       |        + 9*((1000000 * dl) // (1000 * t_tokens // n_docs)))
       |        AS tfn_e6
       |    FROM q JOIN tf f USING (term) JOIN dfreq USING (term)
       |    CROSS JOIN tot
       |    WHERE f.doc_id <> q.query_id
       |  )
       |  GROUP BY 1, 2
       |), ranked AS (
       |  SELECT query_id, doc_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id) AS rn
       |  FROM scored
       |)""".stripMargin

  val s10Sql: String = bm25Cte +
    s"""
       |SELECT query_id, CAST(rn AS INT) AS rn, doc_id, score
       |FROM ranked WHERE rn <= $TopK
       |ORDER BY query_id, rn""".stripMargin

  // ---------------------------------------------------------------------
  // s13: hybrid retrieval — reciprocal-rank fusion of lexical + dense
  // ---------------------------------------------------------------------

  /** RRF constant (Cormack et al., SIGIR'09 use 60). */
  val RrfK = 60L

  /** Dense half of the hybrid: exact cosine top-[[TopK]] from the
    * `embeddings` table for the SAME query ids (the fixture embeds
    * document i as vector i, so `doc_id == vec_id` is the join
    * convention). The query side is tiny (1/[[QueryMod]] of the corpus)
    * and broadcast, so the fan-out is q·n work against the flat index —
    * the s01 shape restricted to the query set, not n². */
  private[graft] def denseRanked(spark: SparkSession, dir: String): DataFrame = {
    // parallelism floor — the one-row-group scan otherwise caps the
    // fused q·n scoring at one task (Tables.spread scaladoc)
    val v = graft.Tables.spread(
      Tables(spark, dir, "embeddings"), col("vec_id"))
      .withColumn("nrm", sqrt(expr("vec_dot(embedding, embedding)")))
      .filter(col("nrm") > 0)
    val q = v.filter(pmod(col("vec_id"), lit(QueryMod)) === QueryRem)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    v.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        expr("vec_dot(embedding, qv)") / (col("nrm") * col("qn")))
      .withColumn("den_rn", row_number().over(w))
      .filter(col("den_rn") <= TopK)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("den_rn"))
  }

  /** s13: hybrid search — reciprocal-rank fusion (RRF) of the BM25
    * lexical list (s10) and the exact dense cosine list over the same
    * query set: `rrf = Σ_lists 10⁶ DIV (60 + rank)`, zero for a list
    * the document didn't make. Rank fusion is the standard way to
    * combine heterogeneous retrievers without score calibration —
    * ranks are scale-free where BM25 scores and cosines are not, and
    * the integer form makes the fused score engine-exact (doubles
    * would be too here, but the convention keeps every oracle sum
    * order-free).
    *
    * Plan at 100 TB: both halves are already top-k-sized when they
    * meet — the fusion join, scoring and final window all run on
    * O(queries·k) rows. The expensive parts are the halves themselves
    * (inverted index / flat scan), each with its own documented scale
    * path (s10; s02/s04/s09 replace the flat scan). */
  def s13HybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val lex = bm25Ranked(spark, dir)
      .select(col("query_id"), col("doc_id"), col("rn").as("lex_rn"))
    val den = denseRanked(spark, dir)
    val fused = lex.join(den, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        (coalesce(expr(s"1000000L DIV ($RrfK + lex_rn)"), lit(0L)) +
          coalesce(expr(s"1000000L DIV ($RrfK + den_rn)"), lit(0L)))
          .cast(LongType))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
    fused.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= TopK)
      .select(col("query_id"), col("rn"), col("doc_id"), col("rrf"),
        col("lex_rn"), col("den_rn"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** Oracle: the s10 CTE chain + the s01-convention dense scoring
    * (DOUBLE[] `list_dot_product` — bit-identical to VecDot) + the same
    * integer RRF arithmetic over a FULL OUTER rank join. */
  val s13Sql: String = bm25Cte +
    Similarity.normCte.replaceFirst("^WITH ", ", ") +
    s""", dq AS (
       |  SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM nn
       |  WHERE vec_id % $QueryMod = $QueryRem
       |), dsc AS (
       |  SELECT dq.query_id, nn.vec_id AS doc_id,
       |    list_dot_product(nn.v, dq.qv) / (nn.nrm * dq.qn) AS cosine
       |  FROM nn, dq WHERE nn.vec_id <> dq.query_id
       |), dranked AS (
       |  SELECT query_id, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, doc_id) AS den_rn
       |  FROM dsc
       |), fused AS (
       |  SELECT query_id, doc_id,
       |    CAST(l.rn AS INT) AS lex_rn, CAST(d.den_rn AS INT) AS den_rn,
       |    CAST(COALESCE(1000000 // ($RrfK + l.rn), 0)
       |       + COALESCE(1000000 // ($RrfK + d.den_rn), 0) AS BIGINT) AS rrf
       |  FROM (SELECT query_id, doc_id, rn FROM ranked
       |        WHERE rn <= $TopK) l
       |  FULL OUTER JOIN (SELECT query_id, doc_id, den_rn FROM dranked
       |                   WHERE den_rn <= $TopK) d
       |    USING (query_id, doc_id)
       |)
       |SELECT query_id, CAST(rn AS INT) AS rn, doc_id, rrf, lex_rn, den_rn
       |FROM (
       |  SELECT query_id, doc_id, rrf, lex_rn, den_rn,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY rrf DESC, doc_id) AS rn
       |  FROM fused
       |) WHERE rn <= $TopK
       |ORDER BY query_id, rn""".stripMargin

  // --------------------------------------------------------------- s33

  /** s33's deterministic delete set: `doc_id % 13 == 5` (~8% of the
    * corpus; a different modulus than s32's so the two delete suites
    * can never mask each other). */
  val DelMod = 13L
  val DelRem = 5L

  private[graft] val bm25Tomb = graft.io.Artifact("bm25-tomb")

  /** The per-doc identity sidecar the lexical DELETE verb requires:
    * `(doc_id, h, dl)` — one row per indexed document. A delete
    * request carries only a doc_id (Lucene's deleteDocuments(Term)),
    * but moving the artifact's content fingerprint needs the removed
    * documents' HASHES (xor-out) and rebuilding the totals after a
    * merge needs their LENGTHS (a docs-without-terms row has no
    * posting to recover `dl` from) — so the index stores both at
    * ingest time, the way Lucene's live-docs bitmap hangs off a
    * per-segment doc identity. Index-sized metadata: 24 bytes/doc. */
  private[graft] def docHashFrame(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), IndexFamily.Bm25.rowHash.as("h"),
      size(split(col("text"), " ")).cast(LongType).as("dl"))

  /** Write `docs`' [[docHashFrame]] as one sorted file under `into`. */
  private[graft] def writeDocHash(docs: DataFrame, into: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    docHashFrame(docs).coalesce(1).sortWithinPartitions(col("doc_id"))
      .write.mode(mode).parquet(s"$into/dochash")

  private[graft] val docHashSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id", LongType),
    org.apache.spark.sql.types.StructField("h", LongType),
    org.apache.spark.sql.types.StructField("dl", LongType)))

  private[graft] def docHashAt(spark: SparkSession, base: String): DataFrame = {
    // backend-native path, like IndexDelete.hasTombstones (decodes
    // file: bases; follows registered Hadoop schemes)
    val (fs, b) = graft.io.ArtifactStore.backend(base)
    val dir = fs.join(b, "dochash")
    if (!fs.isDir(dir))
      throw new IllegalStateException(
        s"BM25 index at $base predates delete support (no dochash " +
          "sidecar) — rebuild it before applying deletes")
    spark.read.schema(docHashSchema).parquet(dir)
  }

  /** s33's index artifact: the full-corpus BM25 index (with the
    * dochash sidecar) built through the staged-publish path, then
    * `delete(doc_id % 13 == 5)` applied as a real fingerprint-checked
    * mutation — the same two-state machine as
    * [[IndexDelete.tombIndexBase]]. */
  private[graft] def bm25TombIndexBase(spark: SparkSession, dir: String): String = {
    val delPred = pmod(col("doc_id"), lit(DelMod)) === lit(DelRem)
    lazy val d = Tables(spark, dir, "documents")
    lazy val Seq(full, del) = IndexFamily.Bm25.partsWhere(d, lit(true), delPred)
    bm25Tomb.ensureDeleted(dir)(full, del)(IndexFamily.Bm25.build(d, _))(
      IndexDelete.applyDeletes(IndexFamily.Bm25, spark, _,
        d.filter(delPred).select(col("doc_id"))))
  }

  /** s33: BM25 search over an index that has taken deletions, in the
    * state Lucene actually serves between a delete and the next
    * segment merge — deleted documents are excluded from every result
    * (one broadcast anti-join against the compaction-bounded tombstone
    * set), while `df` and the corpus totals remain AS STORED, i.e.
    * still counting the deleted documents. That stats drift is not a
    * shortcut, it is the documented contract of every inverted-index
    * engine (Lucene scores against maxDoc/docFreq including deletes
    * until merge; Elasticsearch exposes it as the
    * deleted-docs-affect-scoring caveat): recomputing df at delete
    * time would mean rewriting posting lists — the O(index) work the
    * tombstone design exists to defer to the merge. The post-merge
    * state (stats fully recounted) is pinned by the streaming spec's
    * compaction equality instead. */
  def s33Bm25Delete(spark: SparkSession, dir: String): DataFrame = {
    val base = bm25TombIndexBase(spark, dir)
    val postings = spark.read.schema(segPostingsSchema)
      .parquet(s"$base/postings")
      .select(col("doc_id"), col("dl"), col("term"), col("tf"), col("df"))
    val live = postings.join(
      broadcast(IndexDelete.tombstonesAt(spark, base, "doc_id")),
      Seq("doc_id"), "left_anti")
    val totals = graft.io.Load.parquet(spark, s"$base/totals")
      .select(col("n_docs"), col("t_tokens"))
    val cand = live
      .join(broadcast(queryTerms(spark, dir)), "term")
      .filter(col("doc_id") =!= col("query_id"))
    okapiRank(cand, totals).orderBy(col("query_id"), col("rn"))
  }

  /** s33 oracle: s10's chain with the SCORED candidates restricted to
    * live documents while `dfreq`/`tot` stay full-corpus — the exact
    * pre-merge Lucene semantics the engine serves. Generated from
    * [[bm25Cte]] so the scoring algebra can never drift. */
  val s33Sql: String = {
    val anchor = "WHERE f.doc_id <> q.query_id"
    require(bm25Cte.contains(anchor))
    bm25Cte.replace(anchor,
      s"$anchor AND f.doc_id % $DelMod <> $DelRem") +
      s"""
         |SELECT query_id, CAST(rn AS INT) AS rn, doc_id, score
         |FROM ranked WHERE rn <= $TopK
         |ORDER BY query_id, rn""".stripMargin
  }

  val registry: Seq[Query] = Seq(
    Query("s10_bm25_topk", s10Bm25TopK, Some(s10Sql)),
    Query("s13_hybrid_rrf", s13HybridRrf, Some(s13Sql)),
    // the segmented incremental index provably equals the from-scratch
    // index, so the oracle IS the full-corpus derivation
    Query("s17_incremental_bm25", s17IncrementalBm25, Some(s10Sql)),
    Query("s33_bm25_delete", s33Bm25Delete, Some(s33Sql)),
  )
}
