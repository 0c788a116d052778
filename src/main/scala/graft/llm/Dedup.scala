package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Query, Tables}
import graft.functions.VectorExpressions

/** Deduplication operators for a training-data pipeline, over the
  * `documents` (text) and `embeddings` (vector) fixtures.
  *
  * Scale posture (the point of each design):
  *  - exact dedup is a hash-shuffle groupBy on the dedup key — one
  *    shuffle, map-side partial agg, no driver state;
  *  - MinHash/LSH turns the quadratic near-dup problem into a
  *    bucket-join: only documents sharing a band bucket ever meet. At
  *    100 TB the band join is shuffle-on-bucket, AQE handles skewed
  *    buckets, and buckets over [[minHashPairs]]'s `hotBucketCap` emit a
  *    star around their representative instead of the clique (a
  *    boilerplate mega-cluster stays linear — see [[lshCandidates]]);
  *  - the exact n-gram Jaccard path uses an inverted-index join
  *    (posting-list self-join) rather than a cross join — cost is
  *    sum(posting²) not n², and stays distributed;
  *  - SimHash buckets by 16-bit chunks (pigeonhole: hamming ≤ 3 over 64
  *    bits guarantees an equal chunk; the filter stays at ≤ 3 so the
  *    published contract matches what the bucketing can recall),
  *    verification via xor+bit_count;
  *  - embedding near-dup is exact quadratic here (n is small in the
  *    fixtures); at scale it swaps in the IVF route of
  *    [[Similarity.ivfTopK]].
  */
object Dedup {

  /** Word 3-gram shingle set per document (documents with ≥3 tokens),
    * via the codegen'd [[graft.functions.WordShingles]] single-pass
    * kernel. Frame-parameterized: any (doc_id, text) relation works. */
  private[graft] def shingledFrame(docs: DataFrame,
      keep: Seq[String] = Nil, spread: Boolean = true): DataFrame = {
    VectorExpressions.register(docs.sparkSession)
    // parallelism floor (Tables.spread): the shingle kernel + explode
    // fuse onto their input; a one-row-group scan caps them at one
    // task. Opt-out (`spread = false`) for consumers whose downstream
    // is a cheap broadcast-side aggregate rather than the posting
    // self-join — round 14 measured the floor a net LOSS there
    // (t08 0.85→1.84 s) while the pair-join family won 2-3×
    // (OPTIMIZATION_r14.md).
    (if (spread) graft.Tables.spread(docs, col("doc_id")) else docs)
      .withColumn("shingles", expr("word_shingles3(text)"))
      .filter(size(col("shingles")) >= 1)
      .select(col("doc_id") +: col("shingles") +: keep.map(col): _*)
  }

  private[llm] def shingled(spark: SparkSession, dir: String): DataFrame =
    shingledFrame(Tables(spark, dir, "documents"))

  /** The exact-Jaccard pair CTE block over an arbitrary source relation
    * (must expose doc_id, text) — shared by the d03/d04/d07/d08/d09 and
    * pipeline oracles. `suffix` renames the CTEs (w1/sh1/ex1/sz1/pr1)
    * so two shingle chains can coexist in one spliced oracle (p07 needs
    * postings over BOTH the full corpus and its cleaned survivors). */
  private[llm] def shingleCteOver(table: String, suffix: String = "",
      pairs: Boolean = true): String = {
    val base =
      s"""WITH w$suffix AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM $table
         |  WHERE len(string_split(text, ' ')) >= 3
         |), sh$suffix AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(1, len(ws) - 1),
         |      i -> ws[i] || '_' || ws[i + 1] || '_' || ws[i + 2])) AS s
         |  FROM w$suffix
         |), ex$suffix AS (SELECT doc_id, unnest(s) AS sg FROM sh$suffix),
         |sz$suffix AS (SELECT doc_id, len(s) AS n FROM sh$suffix)""".stripMargin
    // the pair self-join is the expensive block — emit it only for
    // consumers that read pr (an engine materializing named CTEs must
    // never pay a posting self-join a query doesn't use)
    if (!pairs) base
    else base +
      s""",
         |pr$suffix AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
         |  FROM ex$suffix a JOIN ex$suffix b ON a.sg = b.sg AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)""".stripMargin
  }

  private[llm] val shingleOracleCte = shingleCteOver("documents")

  // ---------------------------------------------------------------------
  // d01/d02: exact dedup
  // ---------------------------------------------------------------------

  /** Exact dedup: group on the full text, keep the smallest doc_id as
    * the canonical representative. One hash shuffle on the text. */
  def d01ExactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))
      .orderBy(col("doc_id"))

  val d01Sql: String =
    """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin

  /** Exact dedup on a content fingerprint instead of the full text: at
    * scale the shuffle ships 16-byte digests, not documents. */
  def d02HashDedup(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .withColumn("content_hash", md5(col("text")))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("content_hash"), col("n_copies"))
      .orderBy(col("doc_id"))

  val d02Sql: String =
    """SELECT MIN(doc_id) AS doc_id, MD5(text) AS content_hash,
      | COUNT(*) AS n_copies
      |FROM documents GROUP BY MD5(text) ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d03: MinHash + LSH banding
  // ---------------------------------------------------------------------

  /** Near-duplicate pairs via MinHash signatures (64 hashes) + LSH
    * banding (16 bands × 4 rows), exact-Jaccard verification of the
    * candidates, threshold 0.8.
    *
    * The oracle is the *exact* Jaccard join: with 16 bands of 4 the
    * candidate-recall at j ≥ 0.8 is 1 - (1 - 0.8⁴)¹⁶ ≈ 0.9998 and
    * ≈ 1 - 10⁻¹⁴ at j = 1, so LSH+verify equals the exact answer on any
    * non-adversarial corpus. */
  def d03MinHashLsh(spark: SparkSession, dir: String): DataFrame =
    minHashPairs(Tables(spark, dir, "documents"), threshold = 0.8)

  /** (doc_id, band, bucket) banding of a (doc_id, shingles) frame:
    * MinHash(64) signature, 16 bands × 4 rows, xxhash64 bucket keys —
    * THE banding definition, shared by the batch self-join
    * ([[lshCandidates]]) and the streaming per-bucket-state sibling
    * ([[graft.stream.StreamDedup]]). Stateless projections only, so it
    * applies unchanged to a streaming frame. */
  private[graft] def bandedBuckets(sh: DataFrame,
      keep: Seq[String] = Nil): DataFrame =
    sh.withColumn("sig", expr("minhash_sig(shingles)"))
      .select(
        col("doc_id") +: keep.map(col) :+
        posexplode(expr(
          """transform(sequence(0, 15),
            |  b -> xxhash64(slice(sig, b * 4 + 1, 4)))""".stripMargin))
          .as(Seq("band", "bucket")): _*)

  /** [[bandedBuckets]] over a raw (doc_id, text) relation — the entry
    * point the streaming sibling uses (shingling + banding in one). */
  private[graft] def bandedDocs(docs: DataFrame): DataFrame = {
    bandedBuckets(shingledFrame(docs))
  }

  /** [[bandedDocs]] with the event-time column carried through — the
    * BOUNDED streaming sibling ([[graft.stream.BoundedStreamDedup]])
    * keys state by (band, bucket) like the unbounded one but expires
    * members by each doc's event time, so the banding must not drop
    * `ts`. THE SAME kernel, not a copy (review-caught): any change to
    * the shingle filter or the banding expression reaches both the
    * batch/stream parity surface and this bounded one. */
  private[graft] def bandedDocsWithTs(docs: DataFrame): DataFrame =
    bandedBuckets(shingledFrame(docs, Seq("ts")), Seq("ts"))

  /** Frame-parameterized core of d03: near-dup pairs of any
    * (doc_id, text) relation via MinHash banding + exact verification.
    *
    * `threshold` is the exact-Jaccard *verification* threshold; the LSH
    * banding is fixed at 16 bands × 4 rows, whose candidate recall is
    * ≈ 1 only for j ≥ 0.8 (0.9998 at 0.8). A lower threshold would
    * verify correctly but silently miss pairs the banding never
    * surfaces (recall ≈ 0.64 at j = 0.5), so it is rejected rather
    * than returning a quietly incomplete answer.
    *
    * `hotBucketCap` bounds the quadratic blow-up of oversized band
    * buckets — see [[lshCandidates]]. The default (64) is far above any
    * bucket the fixtures produce (so the exact contract holds there)
    * while keeping a boilerplate mega-cluster linear. */
  def minHashPairs(docs: DataFrame, threshold: Double,
      hotBucketCap: Int = 64): DataFrame = {
    require(threshold >= 0.8,
      s"LSH banding (16x4) only has ~full recall for j >= 0.8; " +
        s"got threshold=$threshold — use d04/d08's exact paths below that")
    // The shingle sets feed both sides of the band self-join and the
    // verification join; localCheckpoint materializes the
    // tokenize+shingle pipeline once (instead of four times) and, unlike
    // persist(), is released by the ContextCleaner when the frame is
    // garbage collected — query builders have no unpersist hook.
    val sh = shingledFrame(docs).localCheckpoint()
    verifyJaccard(lshCandidates(sh, hotBucketCap), sh, threshold)
  }

  /** LSH candidate pairs of a (doc_id, shingles) frame: MinHash(64)
    * signatures, 16 bands × 4 rows, self-join on (band, bucket).
    *
    * Buckets larger than `hotBucketCap` — boilerplate-heavy corpora put
    * millions of near-identical documents into the same bucket of every
    * band, the normal case in web-scale training data — would go
    * quadratic inside the bucket, and for a true duplicate mega-cluster
    * even the *output* pair set is quadratic, so no exact algorithm is
    * linear there. Hot buckets therefore emit a star around the bucket
    * representative (min doc_id) instead of the clique: O(size) edges,
    * every member still reaches the representative, so the
    * connected-component consumers (d07/d09/p01) keep exactly the same
    * clusters whenever hot-bucket members are genuine near-dups of their
    * representative (verification stays exact, so false positives are
    * impossible either way; only member–member pair *enumeration* inside
    * a hot bucket is traded for boundedness). Buckets at or under the
    * cap keep the exact clique join.
    *
    * Bucket sizing is a `groupBy(band, bucket)` partial-aggregate (one
    * row per bucket) joined back to the bands frame — NOT a window
    * function, which would force a sort of the full 16×n bands frame
    * just to compute per-bucket count/min that need no ordering. The
    * stats aggregate, the join back, and the clique self-join all hash
    * by (band, bucket), so the exchanges line up. Singleton buckets —
    * the overwhelming majority on a real corpus — are dropped before
    * the join: they can produce neither a clique pair nor a star edge. */
  private[graft] def lshCandidates(sh: DataFrame,
      hotBucketCap: Int): DataFrame = {
    val bands = bandedBuckets(sh)
    val stats = bands.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bsz"), min(col("doc_id")).as("rep"))
      .filter(col("bsz") >= 2)
    val sized = bands.join(stats, Seq("band", "bucket"))
    val small = sized.filter(col("bsz") <= hotBucketCap)
      .select(col("doc_id"), col("band"), col("bucket"))
    val clique = small.as("a")
      .join(small.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val star = sized.filter(col("bsz") > hotBucketCap &&
        col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
    clique.unionByName(star).distinct()
  }

  /** Join candidate pairs back to shingle sets and compute exact Jaccard. */
  private def verifyJaccard(cand: DataFrame, sh: DataFrame,
      threshold: Double): DataFrame = {
    val sa = sh.select(col("doc_id").as("doc_a"), col("shingles").as("sa"))
    val sb = sh.select(col("doc_id").as("doc_b"), col("shingles").as("sb"))
    cand.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", col("inter").cast(DoubleType) /
        (size(col("sa")) + size(col("sb")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val d03Sql: String = shingleOracleCte +
    """
      |SELECT doc_a, doc_b,
      |  CAST(inter AS DOUBLE) / (x.n + y.n - inter) AS jaccard
      |FROM pr JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
      |WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // d04: exact n-gram Jaccard via inverted-index join
  // ---------------------------------------------------------------------

  /** Exact n-gram Jaccard near-dup pairs (threshold 0.5) without LSH:
    * explode shingles into postings, self-join the posting lists with
    * the Jaccard length filter (`t·na ≤ nb ≤ na/t` — a pair failing it
    * cannot reach the threshold), count shared shingles per pair. No
    * cross join anywhere — pairs that share zero shingles are never
    * materialized, and only longs travel through the count shuffle.
    *
    * Deliberately NOT candidate-verify (cf. [[d08PpJoin]]): at a
    * moderate threshold the Jaccard prefix is ~n/2, so prefix filtering
    * leaves a large candidate set whose array-payload verification
    * costs more than counting cheap posting rows (measured 4× slower at
    * sf0.1). Prefix filtering earns its keep at high thresholds — d08. */
  def d04NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingled(spark, dir)
    // postings carry digests of the 24-char shingles, not the strings
    // (d08/d15's key swap): the self-join exchange ships and sorts
    // 8-byte longs. Distinct-shingle digests are what `inter` counts,
    // so a 64-bit collision between two DIFFERENT shingles of a
    // candidate pair could inflate a count — see [[shingleDigest]].
    val postings = sh
      .select(col("doc_id"), size(col("shingles")).as("n"),
        explode(col("shingles")).as("sg0"))
      .select(col("doc_id"), col("n"), shingleDigest(col("sg0")).as("sg"))
    val pairCounts = postings.as("a")
      .join(postings.as("b"),
        col("a.sg") === col("b.sg") && col("a.doc_id") < col("b.doc_id") &&
          col("b.n") * 2 >= col("a.n") && col("a.n") * 2 >= col("b.n"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val sizes = sh.select(col("doc_id"), size(col("shingles")).as("n"))
    pairCounts
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jaccard", col("inter").cast(DoubleType) /
        (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val d04Sql: String = shingleOracleCte +
    """
      |SELECT doc_a, doc_b,
      |  CAST(inter AS DOUBLE) / (x.n + y.n - inter) AS jaccard
      |FROM pr JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
      |WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // d12: edit-distance verification on n-gram candidates
  // ---------------------------------------------------------------------

  /** Max Levenshtein distance for [[d12EditDistance]] — 4 keeps the
    * one-or-two-word edits (the OCR/typo near-identical regime) and
    * rejects looser rewrites: the fixture's jaccard-0.5 candidates
    * span edit distances 0-12, median 4. */
  val MaxEditDistance = 4

  /** d12: minimal-edit duplicate pairs — character-level Levenshtein
    * verification on top of the token-level candidates: among pairs
    * with exact 3-gram Jaccard ≥ 0.5 ([[d04NgramJaccard]]), keep those
    * within [[MaxEditDistance]] character edits. The precision pass a
    * pipeline runs when near-identical means "a typo or an OCR glitch",
    * not "same topic": shingle Jaccard tolerates word reorderings that
    * edit distance correctly rejects.
    *
    * Scale: Levenshtein is O(len_a·len_b) per pair, so it must NEVER
    * see the corpus cross product — here it runs only on the inverted-
    * index candidate set (sum-of-posting² pairs, the d04 bound), and
    * d04's `t·na ≤ nb ≤ na/t` length filter also bounds each DP table.
    * The text join-back ships the two candidate texts once per pair. */
  def d12EditDistance(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    d04NgramJaccard(spark, dir)
      .join(docs.select(col("doc_id").as("doc_a"), col("text").as("ta")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("text").as("tb")), "doc_b")
      // THRESHOLDED levenshtein (r7): the 3-arg built-in runs the
      // banded O(k·n) algorithm and returns -1 past the bound, vs the
      // full O(n²) DP table of the 2-arg form — ~n/(2k+1) ≈ 200× less
      // DP work per candidate pair at k=4 on ~2000-char docs. At
      // fixture scale d04's posting join dominates so the bench line
      // barely moves; the bound is the verify stage's scale posture
      // (DP cost grows linearly, not quadratically, in doc length).
      // For kept rows (true distance ≤ k) the banded value IS the
      // exact distance, so the output and unchanged oracle agree
      // bit-for-bit
      .withColumn("edit_dist",
        levenshtein(col("ta"), col("tb"), MaxEditDistance).cast(LongType))
      .filter(col("edit_dist") >= 0)
      .select(col("doc_a"), col("doc_b"), col("edit_dist"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Oracle: the shared shingle-pair CTE at the d04 threshold plus the
    * same Levenshtein gate (both engines implement unit-cost
    * Levenshtein; texts are ASCII, so codepoints == bytes). */
  val d12Sql: String = shingleOracleCte +
    s"""
       |SELECT p.doc_a, p.doc_b,
       |  CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist
       |FROM pr p JOIN sz x ON x.doc_id = p.doc_a
       |JOIN sz y ON y.doc_id = p.doc_b
       |JOIN documents da ON da.doc_id = p.doc_a
       |JOIN documents db ON db.doc_id = p.doc_b
       |WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.5
       |  AND levenshtein(da.text, db.text) <= $MaxEditDistance
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // d13: shingle containment (asymmetric near-dup: doc inside doc)
  // ---------------------------------------------------------------------

  /** Containment threshold for [[d13Containment]] — 0.9 means ≥ 90% of
    * the contained doc's shingles appear in the container. */
  val ContainmentThreshold = 0.9

  /** d13: DIRECTED containment pairs — `|A ∩ B| / |A| ≥ 0.9` says doc A
    * is (nearly) inside doc B: the quote/excerpt/boilerplate-wrapper
    * case symmetric Jaccard misses by construction (a paragraph quoted
    * inside a 100× longer page has Jaccard ≈ 0.01 but containment
    * ≈ 1.0 — d03/d04/d08 all score it "not a duplicate", yet a
    * training pipeline must catch it or the paragraph trains twice).
    *
    * Plan: the same inverted-index posting self-join as [[d04NgramJaccard]]
    * — shared-shingle pairs only, sum(posting²) never n² — but WITHOUT
    * d04's Jaccard length filter, which is unsound here: containment
    * relates `inter` to ONE side's size, so a tiny doc legitimately
    * pairs with a huge one and no `na ~ nb` band can be assumed. Each
    * undirected pair then yields up to two directed rows (A-in-B tests
    * inter/na, B-in-A tests inter/nb) in a cheap post-aggregation
    * projection over the already-counted pair frame. At 100 TB the
    * hot-shingle cap that protects every posting join here (stopword
    * 3-grams) is the same df-cap argument as [[d08PpJoin]]'s
    * rarest-first ordering; the fixture's shingle dfs are small enough
    * that the uncapped join is the honest baseline. */
  def d13Containment(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingled(spark, dir)
    // digest posting keys, same swap + same collision posture as d04
    // ([[shingleDigest]])
    val postings = sh
      .select(col("doc_id"), explode(col("shingles")).as("sg0"))
      .select(col("doc_id"), shingleDigest(col("sg0")).as("sg"))
    val pairCounts = postings.as("a")
      .join(postings.as("b"),
        col("a.sg") === col("b.sg") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val sizes = sh.select(col("doc_id"), size(col("shingles")).as("n"))
    val withSizes = pairCounts
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
    val aInB = withSizes.select(col("doc_a").as("contained"),
      col("doc_b").as("container"),
      (col("inter").cast(DoubleType) / col("na")).as("containment"))
    val bInA = withSizes.select(col("doc_b").as("contained"),
      col("doc_a").as("container"),
      (col("inter").cast(DoubleType) / col("nb")).as("containment"))
    aInB.unionByName(bInA)
      .filter(col("containment") >= ContainmentThreshold)
      .orderBy(col("contained"), col("container"))
  }

  /** Oracle: the shared unfiltered pair CTE, then both directions'
    * containment — identical division operands, so the doubles match
    * bit-for-bit. */
  val d13Sql: String = shingleOracleCte +
    s"""
       |SELECT * FROM (
       |  SELECT doc_a AS contained, doc_b AS container,
       |    CAST(inter AS DOUBLE) / x.n AS containment
       |  FROM pr JOIN sz x ON x.doc_id = doc_a
       |  UNION ALL
       |  SELECT doc_b, doc_a, CAST(inter AS DOUBLE) / y.n
       |  FROM pr JOIN sz y ON y.doc_id = doc_b
       |) WHERE containment >= $ContainmentThreshold
       |ORDER BY contained, container""".stripMargin

  // ---------------------------------------------------------------------
  // d08: PPJoin-style prefix-filtered exact Jaccard (high threshold)
  // ---------------------------------------------------------------------

  /** Exact Jaccard pairs at a high threshold (0.8) via PPJoin-style
    * prefix filtering (Xiao et al., WWW'08): under a consistent global
    * token order — here (document frequency, shingle), rarest first —
    * any pair with J ≥ t must share one of the `n - ceil(t·n) + 1`
    * first tokens of each side, so only those ~n/5 rarest shingles
    * enter the posting self-join, alongside the `t·na ≤ nb ≤ na/t`
    * length filter. Survivors are verified exactly against the full
    * shingle sets.
    *
    * This is the deterministic-exact counterpart of [[d03MinHashLsh]]
    * (LSH recall is probabilistic; the prefix filter is lossless), and
    * the high-threshold complement of [[d04NgramJaccard]]: at t = 0.8
    * the prefix is a fifth of each set, so the candidate set is small
    * enough that per-candidate verification beats counting the full
    * posting join. At 100 TB everything here is hash-shuffle joins on
    * (shingle) and (doc_id) — no driver state, no cross join; the
    * rarest-first order means the hottest (boilerplate) shingles never
    * enter the join at all. */
  def d08PpJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = 0.8
    // shingle sets feed the postings and both verify sides;
    // localCheckpoint materializes the tokenize+shingle pipeline once
    val sh = shingled(spark, dir).localCheckpoint()
    // tokens are xxhash64 digests of the 24-char shingles, not the
    // strings (d15's fix, r6: string sort keys through two window
    // passes + a self-join dominated this query's bench time). Sound
    // under collisions, not just unlikely to collide: a collision
    // MERGES two tokens, which (a) only adds shared keys → extra
    // candidates, all killed by the exact array verify; (b) keeps the
    // (df, digest) global token order consistent across docs (the
    // digest is a pure function of the string); (c) only weakens the
    // positional bound (duplicate in-doc tokens inflate n, lengthening
    // the prefix). No true pair can be lost, so — unlike d15 — the
    // digest swap here needs no probability argument at any scale.
    val postings = sh.select(col("doc_id"), explode(col("shingles")).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("sg"))
    val dfreq = postings.groupBy(col("sg")).agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("sg"))
    val bySet = Window.partitionBy(col("doc_id"))
    // All prefilter thresholds are EXACT integer arithmetic on t = 4/5
    // — the filters have no oracle mirror, so they must be lossless in
    // exact math, and double forms are not: ceil(n * 0.8) rounds UP at
    // multiples of 5 (5·0.8 = 4.0000000000000002 → ceil 5), cutting
    // the prefix one token short, and `nb >= na * 0.8` wrongly prunes
    // an exactly-threshold pair (4 >= 5·0.8 is false in doubles).
    // Prefix length n - ceil(4n/5) + 1, with ceil(4n/5) = (4n+4) div 5.
    val pref = postings.join(dfreq, "sg")
      .withColumn("rk", row_number().over(byRarity))
      .withColumn("n", count(lit(1)).over(bySet))
      .filter(col("rk") <= col("n") - expr("(4 * n + 4) div 5") + 1)
      .select(col("doc_id"), col("sg"), col("n"), col("rk"))
    val cand = pref.as("a")
      .join(pref.as("b"),
        col("a.sg") === col("b.sg") && col("a.doc_id") < col("b.doc_id") &&
          // length filter t·na ≤ nb ≤ na/t, integerized
          col("b.n") * 5 >= col("a.n") * 4 &&
          col("a.n") * 5 >= col("b.n") * 4 &&
          // positional filter (the PPJoin refinement): a shared prefix
          // token at ranks (rka, rkb) bounds the overlap of the FIRST
          // such token by 1 + min(na−rka, nb−rkb), and J ≥ t needs
          // overlap ≥ ceil(t/(1+t)·(na+nb)) = ceil(4(na+nb)/9);
          // integer `ub ≥ ceil(x/9)` ⟺ `9·ub ≥ x`. Later shared
          // tokens' rows may fail the bound, but a true match's
          // first-token row always passes, so the distinct pair set is
          // lossless — while candidates entering the array-payload
          // verify drop ~3.4× (43.5k → 12.7k at sf0.1).
          lit(9) * (lit(1) + least(col("a.n") - col("a.rk"),
            col("b.n") - col("b.rk"))) >=
            lit(4) * (col("a.n") + col("b.n")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(cand, sh, threshold = t)
  }

  /** Same answer as the exact-Jaccard oracle at threshold 0.8 — i.e.
    * d03's oracle (LSH+verify equals exact there); reused verbatim. */
  val d08Sql: String = d03Sql

  // ---------------------------------------------------------------------
  // d05: SimHash
  // ---------------------------------------------------------------------

  /** 64-bit SimHash near-dup pairs. Signature: per token,
    * [[graft.functions.TextHash.hash64]] (FNV-1a + murmur finalizer);
    * each bit contributes ±1; sign of the per-bit sum forms the hash.
    * Pairs are found by bucketing on the four 16-bit chunks and kept to
    * hamming ≤ 3, which the pigeonhole guarantees the chunk join
    * surfaces completely (any pair at hamming ≤ 3 differs in at most 3
    * of the 4 chunks, so it shares an exact chunk); verification is
    * xor + bit_count. */
  def d05SimHash(spark: SparkSession, dir: String): DataFrame = {
    val hashed = Tables(spark, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 1)
      .withColumn("simhash", expr("simhash64(ws)"))
      .select(col("doc_id"), col("simhash"))
    val chunks = hashed.select(
      col("doc_id"), col("simhash"),
      posexplode(expr(
        """transform(sequence(0, 3),
          |  c -> shiftright(simhash, c * 16) & 65535)""".stripMargin))
        .as(Seq("chunk_idx", "chunk")))
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.chunk_idx") === col("b.chunk_idx") &&
          col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ---------------------------------------------------------------------
  // d06: embedding-cosine near-dup
  // ---------------------------------------------------------------------

  /** Near-duplicate vector pairs by cosine (threshold 0.4 — the fixture
    * corpus has no planted duplicates, so the threshold sits at the top
    * of the similarity distribution). Exact pairwise with the codegen'd
    * [[graft.functions.VecDot]] kernel; quadratic is fine at fixture
    * n — the 100 TB path is [[Similarity.ivfTopK]]'s cell-pruned join. */
  def d06EmbeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    // parallelism floor — the one-row-group scan otherwise caps the
    // fused O(n²) scoring at one task (Tables.spread scaladoc)
    val v = Tables.spread(Tables(spark, dir, "embeddings"), col("vec_id"))
      .withColumn("norm", sqrt(expr("vec_dot(embedding, embedding)")))
      // zero vectors would yield NaN cosine, and Spark orders NaN above
      // every real (so it would pass the >= threshold) — exclude them
      .filter(col("norm") > 0)
    val a = v.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
      col("norm").as("na"))
    val b = v.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
      col("norm").as("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cosine",
        expr("vec_dot(ea, eb)") / (col("na") * col("nb")))
      .filter(col("cosine") >= 0.4)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  // ---------------------------------------------------------------------
  // d10: incremental dedup — new batch vs existing corpus
  // ---------------------------------------------------------------------

  /** Incremental dedup: classify a NEW batch of documents against an
    * EXISTING corpus — the production shape of dedup (each day's crawl
    * against the historical index), where re-deduping the whole corpus
    * from scratch is not an option. The fixture split is deterministic
    * (`doc_id % 3 = 0` is "new", the rest is the index).
    *
    * Each new document gets one status: `exact` (byte-identical text
    * exists in the index — a digest semi-join, 16-byte keys), else
    * `near` (an exact-verified MinHash-LSH pair connects it to an index
    * doc — the shared [[minHashPairs]] core, cross-side pairs only),
    * else `unique`. At 100 TB the index side of both joins ships only
    * digests and band buckets (never text), the new batch is a small
    * fraction of the corpus, and LSH buckets containing no new-batch
    * member never produce a candidate — the per-increment cost scales
    * with the batch, not the index. */
  def d10IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val isNew = col("doc_id") % 3 === 0
    val newDocs = docs.filter(isNew)
    val oldDigests = docs.filter(!isNew)
      .select(md5(col("text")).as("h")).distinct()
    val exact = newDocs.withColumn("h", md5(col("text")))
      .join(oldDigests, Seq("h"), "left_semi")
      .select(col("doc_id"))
    // cross-side near-dup pairs from the shared LSH+verify core
    val pairs = minHashPairs(docs, threshold = 0.8)
    val near = pairs
      .filter((col("doc_a") % 3 === 0) =!= (col("doc_b") % 3 === 0))
      .select(when(col("doc_a") % 3 === 0, col("doc_a"))
        .otherwise(col("doc_b")).as("doc_id"))
      .distinct()
    newDocs.select(col("doc_id"))
      .join(exact.withColumn("is_exact", lit(1)), Seq("doc_id"), "left")
      .join(near.withColumn("is_near", lit(1)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_exact") === 1, "exact")
          .when(col("is_near") === 1, "near")
          .otherwise("unique").as("status"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: same split, digest join, and the exact-Jaccard pair
    * relation (= the d03 oracle's CTE — LSH+verify equals exact pairs
    * at t = 0.8) restricted to cross-side pairs. */
  val d10Sql: String = shingleOracleCte +
    """,
      |jp AS (
      |  SELECT doc_a, doc_b FROM pr
      |  JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
      |  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8
      |),
      |exact AS (
      |  SELECT DISTINCT n.doc_id
      |  FROM documents n JOIN documents o
      |    ON MD5(n.text) = MD5(o.text)
      |  WHERE n.doc_id % 3 = 0 AND o.doc_id % 3 <> 0
      |),
      |near AS (
      |  SELECT doc_a AS doc_id FROM jp
      |  WHERE doc_a % 3 = 0 AND doc_b % 3 <> 0
      |  UNION
      |  SELECT doc_b FROM jp WHERE doc_b % 3 = 0 AND doc_a % 3 <> 0
      |)
      |SELECT d.doc_id,
      |  CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
      |       WHEN nr.doc_id IS NOT NULL THEN 'near'
      |       ELSE 'unique' END AS status
      |FROM documents d
      |LEFT JOIN exact e ON d.doc_id = e.doc_id
      |LEFT JOIN near nr ON d.doc_id = nr.doc_id
      |WHERE d.doc_id % 3 = 0
      |ORDER BY d.doc_id""".stripMargin

  /** Shingle width for [[d15DupSpans]]. 24 chars: long enough that a
    * match is verbatim reuse (common words/phrases stop colliding
    * around ~20 chars on these fixtures), short enough to recall
    * partial-overlap passages that the doc-level near-dup ops miss. */
  val DupSpanL = 24

  /** The 8-byte shingle digest keying the posting joins
    * ([[d04NgramJaccard]], and so d12; [[d13Containment]]) and the span
    * windows ([[d15DupSpans]], [[d16SharedSpanPairs]]). Among n
    * distinct shingles P(any 64-bit collision) ≈ n²/2⁶⁵: ~5·10⁻⁸ at
    * sf0.1, where the DuckDB oracle (which joins/groups the raw
    * strings) would hash-mismatch if one ever fired, but ~10⁶ expected
    * at 10¹³ positions. A collision inflates a posting join's `inter`
    * count (no downstream exact verify, unlike d08's array check) or
    * merges two shingle groups and marks a unique span position
    * duplicated. At that scale key on a pair of independent xxhash64s
    * (n²/2¹²⁹). */
  private def shingleDigest(s: Column): Column = xxhash64(s)

  /** d15: exact-substring span dedup — the passage-level complement to
    * the doc-level ops (d01..d13): find every maximal character span of
    * a document that also appears VERBATIM in some other document, the
    * operation behind "dedup repeated passages before training" (see
    * the suffix-array ExactSubstr dedup literature). Doc-level Jaccard
    * can't see a 200-char boilerplate header shared by 1M otherwise-
    * distinct docs; this does.
    *
    * Shape: every position contributes its [[DupSpanL]]-char rolling
    * shingle (one row per char — that IS the algorithm's cost; the
    * suffix-array formulation pays the same linear blowup into a
    * dedicated index). Shingles occurring in ≥2 distinct docs mark
    * their source positions; per doc, overlapping/adjacent windows
    * merge into maximal spans via gaps-and-islands (running-max-end
    * break detection, running-sum island ids).
    *
    * 100 TB posture: "appears in ≥2 distinct docs" is decided as
    * `min(doc_id) ≠ max(doc_id)` in ONE window pass over a single
    * shingle shuffle — the linear-blowup frame is exploded once and
    * never joined back to itself (the previous count_distinct-groupBy
    * + join-back shape paid the explode and the wide-key exchange
    * twice; 10.3 s → ~3.5 s at sf0.1). The shuffle/sort key is the
    * shingle's `xxhash64` digest, not the 24-char string (d02's
    * digest-key trick): the exchange carries 8-byte longs and the
    * window sorter compares longs — measured equal in isolation but
    * far more stable under executor memory pressure (the string-key
    * sort spilled to 14 s mid-bench; the long-key sort holds ~4 s).
    * A digest collision could mark a unique position duplicated (see
    * [[shingleDigest]]). The trade: a boilerplate
    * shingle appearing everywhere is one window partition (sorter
    * spills, no AQE split) where an agg+join shape could split it —
    * at pathological shingle skew revert to agg+join. The per-doc
    * island windows partition by doc_id — each doc's hit list is at
    * most its char count. A stride-s shingle sample (recall/cost knob
    * in the literature) drops in by filtering `pos % s = 0` before
    * the window; stride 1 here because the oracle demands exactness. */
  def d15DupSpans(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val L = DupSpanL
    val shingles = Tables(spark, dir, "documents")
      .filter(length(col("text")) >= L)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0), length(col("text")) - lit(L))).as("p"))
      .select(col("doc_id"), col("p").cast(LongType).as("pos"),
        shingleDigest(col("text").substr(col("p") + 1, lit(L))).as("h"))
    val perShingle = Window.partitionBy(col("h"))
    val hits = shingles
      .withColumn("mn", min(col("doc_id")).over(perShingle))
      .withColumn("mx", max(col("doc_id")).over(perShingle))
      .filter(col("mn") =!= col("mx"))
      .select("doc_id", "pos")
    val prevEnd = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val run = Window.partitionBy("doc_id").orderBy("pos")
    hits
      .withColumn("brk", when(
        col("pos") > coalesce(max(col("pos") + L).over(prevEnd), lit(-1L)),
        lit(1)).otherwise(lit(0)))
      .withColumn("island", sum(col("brk")).over(run))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + L).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_len"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** The d15 span CTE chain (docs → rolling shingles → ≥2-doc hits →
    * gaps-and-islands), shared with the p17 effective-size oracle. */
  private[llm] val dupSpanCte: String =
    """WITH docs AS (
      |  SELECT doc_id, text FROM documents WHERE length(text) >= 24
      |), sh AS (
      |  SELECT doc_id, pos, substr(text, pos + 1, 24) AS s
      |  FROM docs, LATERAL (SELECT unnest(generate_series(0, length(text) - 24)) AS pos)
      |), dup AS (
      |  SELECT s FROM sh GROUP BY s HAVING count(DISTINCT doc_id) >= 2
      |), hits AS (
      |  SELECT doc_id, pos FROM sh JOIN dup USING (s)
      |), brk AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos > coalesce(max(pos + 24) OVER (
      |      PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
      |    THEN 1 ELSE 0 END AS b
      |  FROM hits
      |), isl AS (
      |  SELECT doc_id, pos,
      |    sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM brk
      |)""".stripMargin

  val d15Sql: String = dupSpanCte +
    """
      |SELECT doc_id, min(pos) AS span_start, max(pos) + 24 AS span_end,
      |  max(pos) + 24 - min(pos) AS span_len
      |FROM isl GROUP BY doc_id, island
      |ORDER BY doc_id, span_start""".stripMargin

  /** d16: cross-doc shared-span ATTRIBUTION — for every document pair
    * sharing verbatim text, the longest passage they share and where it
    * sits in each (the "who shares what with whom" audit behind
    * contamination forensics and license tracing; d15 tells you WHICH
    * chars of a doc are duplicated somewhere, this tells you the
    * pairwise provenance). The alignment trick is the classic
    * dot-plot/seed-chain diagonal: a position pair (pa, pb) with equal
    * [[DupSpanL]]-char shingles lies on diagonal `pa − pb`, and a
    * shared passage of length S is exactly a run of S − L + 1
    * consecutive matches on ONE diagonal.
    *
    * The island merge is PROVABLY exact here, not a convention: two
    * same-diagonal matches ≤ L apart overlap or touch, so the aligned
    * texts agree on the union interval, so every intermediate window
    * also matches — i.e. gaps on a diagonal are always > L, and the
    * d15-style "merge within L" break condition reconstructs precisely
    * the maximal verbatim runs. Per pair, the longest span wins (ties:
    * smallest start_a, then start_b).
    *
    * 100 TB posture: one shingle-digest exchange feeds the posting
    * self-join (sum-of-df² pairs — fixture max df is 5; a boilerplate-
    * heavy corpus applies m10's hot-digest cap before the join, trading
    * attribution of stopword-like shingles for boundedness), then every
    * window/aggregate is keyed by (doc_a, doc_b[, diag]) — sized by
    * matching pairs, never by the corpus. Digest collisions (d15's
    * note) could fabricate an L-char span; see [[shingleDigest]]. */
  /** Positions-per-shingle bound for [[d16SharedSpanPairs]]'s posting
    * self-join (m10's hot-digest cap): shingles above it are dropped
    * before pairing, bounding the join at sum-of-df² with df ≤ cap.
    * The fixture's max df is 5 (measured), so the cap never fires and
    * the oracle stays exact; raise/lower it to trade stopword-shingle
    * attribution against join fan-out at corpus scale. */
  val SharedSpanDfCap = 1024L

  def d16SharedSpanPairs(spark: SparkSession, dir: String): DataFrame =
    sharedSpanPairsFrame(Tables(spark, dir, "documents"))

  /** Frame-parameterized d16 core (PropertySpec drives it on generated
    * corpora with planted passages; `docs` must expose doc_id, text). */
  private[graft] def sharedSpanPairsFrame(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val L = DupSpanL
    val sh = docs
      .filter(length(col("text")) >= L)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0), length(col("text")) - lit(L))).as("p"))
      .select(col("doc_id"), col("p").cast(LongType).as("pos"),
        shingleDigest(col("text").substr(col("p") + 1, lit(L))).as("h"))
    // d15's one-pass prefilter before the self-join: only positions
    // whose shingle occurs in ≥ 2 distinct docs can form a cross-doc
    // pair, so both join sides shrink from every position to just the
    // duplicated ones (~3 orders of magnitude on the fixtures), and the
    // window's hash partitioning on h is the join's partitioning —
    // measured 4.97 → 3.2 s at sf0.1, result-identical. The SAME pass
    // enforces the hot-digest cap (m10's pattern, code not advice):
    // a shingle in > SharedSpanDfCap positions contributes df² join
    // rows, so boilerplate shingles are excluded above the cap — never
    // firing at fixture scale (max df 5, so the oracle is exact), and
    // at 100 TB trading attribution THROUGH stopword-like shingles for
    // a sum-of-df² bound; spans found via their rarer neighbors still
    // attribute.
    val perShingle = Window.partitionBy(col("h"))
    val dup = sh
      .withColumn("mn", min(col("doc_id")).over(perShingle))
      .withColumn("mx", max(col("doc_id")).over(perShingle))
      .withColumn("df", count(lit(1)).over(perShingle))
      .filter(col("mn") =!= col("mx") && col("df") <= SharedSpanDfCap)
      .select(col("h"), col("doc_id"), col("pos"))
    val hits = dup.select(col("h"), col("doc_id").as("doc_a"),
        col("pos").as("pa"))
      .join(dup.select(col("h"), col("doc_id").as("doc_b"),
        col("pos").as("pb")), "h")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pa"),
        (col("pa") - col("pb")).as("diag"))
    val prevEnd = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pa")).rowsBetween(Window.unboundedPreceding, -1)
    val run = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pa"))
    val spans = hits
      .withColumn("brk", when(
        col("pa") > coalesce(max(col("pa") + L).over(prevEnd), lit(-1L)),
        lit(1)).otherwise(lit(0)))
      .withColumn("island", sum(col("brk")).over(run))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("island"))
      .agg(min(col("pa")).as("start_a"),
        (max(col("pa")) + L - min(col("pa"))).as("span_len"))
      .withColumn("start_b", col("start_a") - col("diag"))
    val best = Window.partitionBy(col("doc_a"), col("doc_b"))
      .orderBy(col("span_len").desc, col("start_a"), col("start_b"))
    spans.withColumn("rn", row_number().over(best))
      .filter(col("rn") === 1)
      .select(col("doc_a"), col("doc_b"), col("span_len"),
        col("start_a"), col("start_b"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** d16 oracle: identical algebra over the raw 24-char shingles. */
  val d16Sql: String =
    """WITH docs AS (
      |  SELECT doc_id, text FROM documents WHERE length(text) >= 24
      |), sh AS (
      |  SELECT doc_id, pos, substr(text, pos + 1, 24) AS s
      |  FROM docs, LATERAL (SELECT unnest(generate_series(0, length(text) - 24)) AS pos)
      |), hits AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa,
      |    a.pos - b.pos AS diag
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |), brk AS (
      |  SELECT doc_a, doc_b, diag, pa,
      |    CASE WHEN pa > coalesce(max(pa + 24) OVER (
      |      PARTITION BY doc_a, doc_b, diag ORDER BY pa
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
      |    THEN 1 ELSE 0 END AS b
      |  FROM hits
      |), isl AS (
      |  SELECT doc_a, doc_b, diag, pa,
      |    sum(b) OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS island
      |  FROM brk
      |), spans AS (
      |  SELECT doc_a, doc_b, diag, min(pa) AS start_a,
      |    max(pa) + 24 - min(pa) AS span_len
      |  FROM isl GROUP BY doc_a, doc_b, diag, island
      |), best AS (
      |  SELECT doc_a, doc_b, span_len, start_a, start_a - diag AS start_b,
      |    row_number() OVER (PARTITION BY doc_a, doc_b
      |      ORDER BY span_len DESC, start_a, start_a - diag) AS rn
      |  FROM spans
      |)
      |SELECT doc_a, doc_b, span_len, start_a, start_b
      |FROM best WHERE rn = 1 ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- d18

  private[graft] val dedupIndex = graft.io.Artifact("dedup-index")

  /** Full build of the LSH dedup index layout into `staging`:
    * `digests/` (the side's distinct content digests) + `bands/`
    * (MinHash band postings, PARTITIONED BY band — 16 dirs). Shared
    * by the build-once artifact ([[dedupIndexBase]]), the incremental
    * bootstrap ([[d19IncrementalIndexAppend]]) and the streaming
    * bootstrap ([[IndexFamily.Lsh]]'s build). */
  private[graft] def writeDedupIndexInto(docs: DataFrame, staging: String): Unit = {
    digestRows(docs)
      .coalesce(4).write.mode("overwrite").parquet(s"$staging/digests")
    graft.io.Store.writePartitionedParquet(
      bandedDocs(docs), s"$staging/bands",
      Seq("band"), Seq("bucket", "doc_id"))
  }

  /** One digest row PER DOCUMENT — `(doc_id, h, h64)`, where `h64` is
    * exactly [[IndexFamily.Lsh]]'s fingerprint row hash. The
    * per-doc grain (rather than the old distinct-`h` set) is what the
    * DELETE verb
    * requires twice over: removing doc D must not remove a digest
    * another live doc still carries (multiplicity — Lucene's live-docs
    * is per doc, not per term), and moving the artifact fingerprint
    * needs the removed docs' stored row hashes (a delete request
    * carries only a doc_id). Probes are unchanged: the exact-dup arm
    * is a set-semantics semi-join on `h`. Readers remain compatible
    * with pre-upgrade artifacts (doc_id/h64 read as null through the
    * declared schema); DELETES on those fail loud in
    * [[IndexFamily.Lsh]]'s `stored`. */
  private[graft] def digestRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("h"),
      IndexFamily.Lsh.rowHash.as("h64")).distinct()

  /** Append ONE batch's digests + band postings into the LIVE index —
    * touches only new files under the 16 existing band partition dirs
    * (append-mode partitioned write, the s16/s17 posture: nothing
    * already indexed is re-read or rewritten). Digest rows are the
    * batch's distinct digests; a digest the base side also carries is
    * a harmless duplicate row (the probe's membership semi-join is
    * set-semantics). Runs inside [[graft.io.ArtifactStore.mutate]]'s
    * marker-off window via the callers. */
  private[graft] def appendDedupIndexInto(batch: DataFrame, live: String): Unit = {
    digestRows(batch)
      .coalesce(1).write.mode("append").parquet(s"$live/digests")
    graft.io.Store.writePartitionedParquet(bandedDocs(batch),
      s"$live/bands", Seq("band"), Seq("bucket", "doc_id"),
      org.apache.spark.sql.SaveMode.Append)
  }

  /** The persisted LSH dedup index — the THIRD stored artifact (after
    * the IVF and BM25 indexes): what an incremental dedup service
    * keeps between crawl batches, so a new batch is checked against
    * the standing corpus WITHOUT recomputing the corpus's signatures.
    * Layout under one [[graft.io.ArtifactStore]] base:
    *
    *  - `digests/` — the old side's distinct content digests (the
    *    exact-dup filter);
    *  - `bands/` — the old side's `(doc_id, bucket) PARTITIONED BY
    *    band` MinHash band buckets (16 dirs): the standard LSH index
    *    layout, one posting list per band.
    *
    * Built once per corpus over d10's "standing corpus" split
    * (`doc_id % 3 != 0`), fingerprinted over that side's content. */
  private def dedupIndexBase(spark: SparkSession, dir: String): String = {
    lazy val old = standingDocs(spark, dir)
    dedupIndex.ensure(dir)(IndexFamily.Lsh.parts(old))(
      writeDedupIndexInto(old, _))
  }

  /** d10's standing corpus (`doc_id % 3 != 0`) — what d18's and d20's
    * indexes cover. */
  private def standingDocs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents").filter(col("doc_id") % 3 =!= 0)

  private[graft] val digestSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id", LongType),
    org.apache.spark.sql.types.StructField("h",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("h64", LongType)))
  private[graft] val bandIdxSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id", LongType),
    org.apache.spark.sql.types.StructField("bucket", LongType),
    org.apache.spark.sql.types.StructField("band",
      org.apache.spark.sql.types.IntegerType)))

  /** d18: d10's incremental dedup served from the PERSISTED index —
    * the new batch computes only its OWN signatures; the standing
    * corpus contributes its stored digests and band postings off disk
    * (built at most once per corpus, spec-pinned). The new batch's
    * bands BROADCAST into the stored postings (a nightly batch is ≪
    * the corpus — d17's asymmetry again), candidates verify with the
    * exact Jaccard computed over a candidate-pruned re-read of the
    * corpus text (doc_id-keyed semi-join — candidate-sized, never a
    * corpus shingle recompute). Verification is exact and 16×4
    * banding has full recall at j ≥ 0.8, so the result equals d10's
    * from-scratch computation row-for-row: the oracle IS d10's SQL.
    * (One deliberate difference at the margin: inside a hot bucket
    * d10's self-join emits star edges around the representative while
    * d18's new×old bucket join enumerates all cross pairs — strictly
    * better recall, same exact-verified result wherever the
    * hot-bucket cap never fires, which the fixture guarantees.) */
  def d18PersistedDedupIndex(spark: SparkSession, dir: String): DataFrame =
    probeDedupIndex(spark, dir, dedupIndexBase(spark, dir))

  /** The index-served probe shared by d18 (build-once index) and d19
    * (incrementally-grown index): classify the new batch
    * (`doc_id % 3 == 0`) against whatever standing index lives at
    * `base` — both artifacts cover the same standing corpus
    * (`doc_id % 3 != 0`), one built in a single shot, one grown by
    * append, so both probes must answer identically (and do: d10's SQL
    * is the oracle for both). */
  private[graft] def probeDedupIndex(spark: SparkSession, dir: String,
      base: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val isNew = col("doc_id") % 3 === 0
    val newDocs = docs.filter(isNew)
    // takedown awareness ([[d20IndexTakedown]] / the streaming delete
    // sink): a tombstoned doc suppresses nothing — its digest row and
    // band postings are cut before either arm. Per-doc digest rows
    // make the multiplicity exact: a live doc sharing a removed doc's
    // text still carries its own digest row, so the exact arm still
    // fires for it. An index with no live tombstones keeps the bare
    // scans ([[IndexDelete.liveById]]'s driver-side branch).
    val oldDigests = IndexDelete.liveById(spark, base,
      spark.read.schema(digestSchema).parquet(s"$base/digests"), "doc_id")
    val exact = newDocs.withColumn("h", md5(col("text")))
      .join(oldDigests.select(col("h")), Seq("h"), "left_semi")
      .select(col("doc_id"))
    val oldBands = IndexDelete.liveById(spark, base,
      spark.read.schema(bandIdxSchema).parquet(s"$base/bands"), "doc_id")
    val newBands = bandedDocs(newDocs)
      .withColumnRenamed("doc_id", "new_id")
    val candidates = oldBands
      .join(broadcast(newBands), Seq("band", "bucket"))
      .select(col("new_id").as("doc_a"), col("doc_id").as("doc_b"))
      .distinct()
    val involvedOld = docs.filter(!isNew).join(
      candidates.select(col("doc_b").as("doc_id")).distinct(),
      Seq("doc_id"), "left_semi")
    val sh = shingledFrame(newDocs.unionByName(involvedOld))
    val near = verifyJaccard(candidates, sh, threshold = 0.8)
      .select(col("doc_a").as("doc_id")).distinct()
    newDocs.select(col("doc_id"))
      .join(exact.withColumn("is_exact", lit(1)), Seq("doc_id"), "left")
      .join(near.withColumn("is_near", lit(1)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_exact") === 1, "exact")
          .when(col("is_near") === 1, "near")
          .otherwise("unique").as("status"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- d19

  /** The incremental-demo split for [[d19IncrementalIndexAppend]]:
    * the standing corpus (`doc_id % 3 != 0`) divides into the half the
    * index was originally built on and the adjudicated batch folded in
    * later — together they must reconstruct EXACTLY d18's standing
    * side, which is what makes d18 the from-scratch control for the
    * grown index. */
  private[graft] val dedupIncBasePred = col("doc_id") % 3 === 1
  private[graft] val dedupIncBatchPred = col("doc_id") % 3 === 2

  private[graft] val dedupIncIndex = graft.io.Artifact("dedup-index-inc")

  /** The incrementally-maintained LSH index artifact behind
    * [[d19IncrementalIndexAppend]] — the third artifact family to get
    * the full lifecycle (IVF got it in s16, BM25 in s17): built once
    * on the base half of the standing corpus, then the adjudicated
    * batch's digests + band postings are folded in by an append-mode
    * write that touches only new files under the 16 existing band
    * partition dirs. [[graft.io.Artifact.ensureIncremental]]'s
    * single-lock state machine: at the union fingerprint → no work
    * (every JVM after the first); at the base fingerprint → append in
    * place; absent/stale → build the base, then append. The union
    * fingerprint is DERIVED (`(nA + nB, xA ^ xB)`) from one fused
    * base+batch scan of the table on a memo miss, so the nightly job
    * shingles and writes only the new batch — the indexed corpus is
    * never re-shingled, but that fingerprint pass still reads it
    * once. */
  private def dedupIncIndexBase(spark: SparkSession, dir: String): String = {
    lazy val docs = Tables(spark, dir, "documents")
    lazy val Seq(base, batch) = IndexFamily.Lsh.partsWhere(
      docs, dedupIncBasePred, dedupIncBatchPred)
    dedupIncIndex.ensureIncremental(dir)(base, batch)(
      writeDedupIndexInto(docs.filter(dedupIncBasePred), _))(
      appendDedupIndexInto(docs.filter(dedupIncBatchPred), _))
  }

  /** d19: the persisted dedup index kept CURRENT — yesterday's index
    * plus tonight's adjudicated batch, appended without rebuilding
    * (the gap the r9 verdict named: without this, the standing index
    * is stale after the first nightly batch and d18's premise decays).
    * The probe then classifies the new-batch docs against the GROWN
    * index and must answer row-for-row what d18 answers over its
    * single-shot index of the same standing corpus — the oracle IS
    * d10's SQL, the third time the same query text certifies an
    * artifact lifecycle (s17's segmented BM25 ≡ s10 precedent).
    * Compaction of the accumulated per-append band files is
    * [[graft.stream.IndexIngest.compact]] over [[IndexFamily.Lsh]]; the
    * streaming twin of the append is that family's
    * [[graft.stream.IndexIngest.appendSink]]. */
  def d19IncrementalIndexAppend(spark: SparkSession, dir: String): DataFrame =
    probeDedupIndex(spark, dir, dedupIncIndexBase(spark, dir))

  // ---------------------------------------------------------------- d20

  /** d20's deterministic takedown set: standing docs with
    * `doc_id % 11 == 2`. (The request stream also carries new-batch
    * ids matching the predicate — never indexed, so the plan ignores
    * them: the Faiss remove_ids contract, exercised on purpose.) */
  val TakedownMod = 11L
  val TakedownRem = 2L

  private[graft] val dedupTomb = graft.io.Artifact("dedup-tomb")

  /** d20's index artifact: the standing-corpus LSH index built through
    * the staged-publish path, then the takedown applied as a real
    * fingerprint-checked mutation — the same two-state machine as the
    * vector and lexical delete artifacts. */
  private def dedupTombIndexBase(spark: SparkSession, dir: String): String = {
    val delPred = col("doc_id") % TakedownMod === TakedownRem
    lazy val old = standingDocs(spark, dir)
    lazy val Seq(full, del) = IndexFamily.Lsh.partsWhere(old, lit(true), delPred)
    dedupTomb.ensureDeleted(dir)(full, del)(IndexFamily.Lsh.build(old, _))(
      IndexDelete.applyDeletes(IndexFamily.Lsh, spark, _,
        Tables(spark, dir, "documents").filter(delPred).select(col("doc_id"))))
  }

  /** d20: the takedown verb on the dedup state — d18's incremental
    * dedup against a standing index that has taken REMOVALS (license
    * revocations, right-to-be-forgotten requests: the removed document
    * must stop suppressing future arrivals as "duplicates of something
    * we no longer hold"). Tombstoned docs are cut from both arms
    * before any candidate forms (digest rows AND band postings —
    * per-doc digest grain keeps shared-text multiplicity exact), so a
    * new doc whose only match was a removed doc now classifies
    * `unique` and ENTERS the corpus — the semantically-required
    * re-admission the bounded-horizon streaming dedup documents as a
    * trade, here exact. Oracle: d10's SQL with the standing side
    * restricted to live docs, generated from the same text. */
  def d20IndexTakedown(spark: SparkSession, dir: String): DataFrame =
    probeDedupIndex(spark, dir, dedupTombIndexBase(spark, dir))

  /** d20 oracle: d10's chain with the OLD side live-restricted in both
    * arms; the probe side (`doc_id % 3 = 0`) is untouched. */
  val d20Sql: String = {
    val exactAnchor = "WHERE n.doc_id % 3 = 0 AND o.doc_id % 3 <> 0"
    val nearA = "WHERE doc_a % 3 = 0 AND doc_b % 3 <> 0"
    val nearB = "SELECT doc_b FROM jp WHERE doc_b % 3 = 0 AND doc_a % 3 <> 0"
    require(d10Sql.contains(exactAnchor) && d10Sql.contains(nearA) &&
      d10Sql.contains(nearB))
    d10Sql
      .replace(exactAnchor,
        s"$exactAnchor AND o.doc_id % $TakedownMod <> $TakedownRem")
      .replace(nearA, s"$nearA AND doc_b % $TakedownMod <> $TakedownRem")
      .replace(nearB, s"$nearB AND doc_a % $TakedownMod <> $TakedownRem")
  }

  /** d17: benchmark-decontamination audit — for every (train doc, eval
    * doc) pair sharing a verbatim passage, the merged contaminated
    * spans in the TRAIN doc: span count, contaminated chars, longest
    * span. The eval set (`doc_id % 50 == 11` here; a held-out
    * benchmark in production) is the thing a training corpus must be
    * scrubbed against before release — the audit every serious LLM
    * pipeline runs (cf. GPT-3's 13-gram decontamination; this uses
    * the d15/d16 span machinery at [[DupSpanL]]=24 chars).
    *
    * Scale shape — and why this is NOT d16's self-join: the eval side
    * is a benchmark, i.e. tiny and fixed, so its distinct shingle
    * index BROADCASTS ((eval_id, digest) pairs; MBs for any real
    * benchmark suite) and the corpus-sized side is one shingle pass
    * semi-filtered map-side — no corpus shuffle keyed by shingle at
    * all; the only keyed exchange is the hit-sized gaps-and-islands
    * window on (train_id, eval_id). Digest join keys (xxhash64) with
    * raw-string oracle replay — the d15 collision-surfacing
    * convention. */
  def d17Decontamination(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val L = DupSpanL
    val isEval = col("doc_id") % 50 === 11
    def shingles(pred: Column, idName: String) =
      Tables(spark, dir, "documents")
        .filter(pred && length(col("text")) >= L)
        .select(col("doc_id").as(idName), col("text"),
          explode(sequence(lit(0), length(col("text")) - lit(L))).as("p"))
        .select(col(idName), col("p").cast(LongType).as("pos"),
          shingleDigest(col("text").substr(col("p") + 1, lit(L))).as("h"))
    val evalIdx = shingles(isEval, "eval_id").select("eval_id", "h").distinct()
    val hits = shingles(!isEval, "train_id")
      .join(broadcast(evalIdx), "h")
      .select(col("train_id"), col("eval_id"), col("pos"))
      .distinct()
    val prevEnd = Window.partitionBy(col("train_id"), col("eval_id"))
      .orderBy(col("pos")).rowsBetween(Window.unboundedPreceding, -1)
    val run = Window.partitionBy(col("train_id"), col("eval_id"))
      .orderBy(col("pos"))
    hits
      .withColumn("brk", when(
        col("pos") > coalesce(max(col("pos") + L).over(prevEnd), lit(-1L)),
        lit(1)).otherwise(lit(0)))
      .withColumn("island", sum(col("brk")).over(run))
      .groupBy(col("train_id"), col("eval_id"), col("island"))
      .agg(min(col("pos")).as("s0"), (max(col("pos")) + L).as("s1"))
      .groupBy(col("eval_id"), col("train_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("s1") - col("s0")).as("shared_chars"),
        max(col("s1") - col("s0")).as("max_span"))
      .orderBy(col("eval_id"), col("train_id"))
  }

  val d17Sql: String =
    """WITH ev AS (
      |  SELECT doc_id AS eval_id, text FROM documents
      |  WHERE doc_id % 50 = 11 AND length(text) >= 24
      |), tr AS (
      |  SELECT doc_id AS train_id, text FROM documents
      |  WHERE doc_id % 50 <> 11 AND length(text) >= 24
      |), esh AS (
      |  SELECT DISTINCT eval_id, substr(text, pos + 1, 24) AS s
      |  FROM ev, LATERAL (SELECT unnest(generate_series(0, length(text) - 24)) AS pos)
      |), tsh AS (
      |  SELECT train_id, pos, substr(text, pos + 1, 24) AS s
      |  FROM tr, LATERAL (SELECT unnest(generate_series(0, length(text) - 24)) AS pos)
      |), hits AS (
      |  SELECT DISTINCT train_id, eval_id, pos
      |  FROM tsh JOIN esh USING (s)
      |), brk AS (
      |  SELECT train_id, eval_id, pos,
      |    CASE WHEN pos > coalesce(max(pos + 24) OVER (
      |      PARTITION BY train_id, eval_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
      |    THEN 1 ELSE 0 END AS b
      |  FROM hits
      |), isl AS (
      |  SELECT train_id, eval_id, pos,
      |    sum(b) OVER (PARTITION BY train_id, eval_id ORDER BY pos) AS island
      |  FROM brk
      |), spans AS (
      |  SELECT train_id, eval_id, island,
      |    min(pos) AS s0, max(pos) + 24 AS s1
      |  FROM isl GROUP BY 1, 2, 3
      |)
      |SELECT eval_id, train_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_spans,
      |  CAST(SUM(s1 - s0) AS BIGINT) AS shared_chars,
      |  CAST(MAX(s1 - s0) AS BIGINT) AS max_span
      |FROM spans GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** d14: Bloom-style hash-bucket prefilter for incremental exact
    * dedup — the accelerator that keeps d10's vs-standing-corpus exact
    * stage from shuffling the whole new batch at 100 TB. The standing
    * corpus is summarized as the distinct set of 16-bit content-hash
    * buckets (`pmod(rolling_min_hash(text), 65536)` — the p04
    * fingerprint convention); that summary BROADCASTS (≤ 64 Ki rows —
    * at real scale, a Bloom bitmap at a few MiB). A new-batch doc
    * whose bucket misses is `unique_fast`: proven new by the filter
    * alone, because identical text implies identical fingerprint
    * implies identical bucket — the no-false-negative property — so
    * it never enters the digest join. Only bucket hits pay the exact
    * md5 comparison, splitting into `exact_dup` (real duplicate) and
    * `collision` (filter false positive, proven new by the exact
    * check). Cost at scale: the expensive digest shuffle processes
    * only the hit fraction (dup rate + ~n_standing/65536 collision
    * rate), not the batch; the attribution column makes the filter's
    * efficacy auditable per run. Within-batch duplicates are d10's
    * separate stage — this operator accelerates the vs-standing check
    * only. New/standing split follows d10 (`doc_id % 3`). */
  def d14BloomPrefilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val isNew = col("doc_id") % 3 === 0
    val bucketOf = pmod(expr("rolling_min_hash(text)"), lit(65536L))
    val standing = docs.filter(!isNew)
    val standingBuckets = standing.select(bucketOf.as("bucket")).distinct()
      .withColumn("hit", lit(1))
    val standingDigests = standing.select(md5(col("text")).as("h")).distinct()
      .withColumn("dup", lit(1))
    val tagged = docs.filter(isNew)
      .select(col("doc_id"), bucketOf.as("bucket"), md5(col("text")).as("h"))
      .join(broadcast(standingBuckets), Seq("bucket"), "left")
    val misses = tagged.filter(col("hit").isNull)
      .select(col("doc_id"), col("bucket"), lit("unique_fast").as("status"))
    val hits = tagged.filter(col("hit") === 1)
      .join(standingDigests, Seq("h"), "left")
      .select(col("doc_id"), col("bucket"),
        when(col("dup") === 1, "exact_dup").otherwise("collision").as("status"))
    misses.unionByName(hits).orderBy(col("doc_id"))
  }

  /** d14 oracle: the shared fingerprint CTE, the same non-negative
    * 16-bit modulus, and the same miss/dup/collision CASE. */
  val d14Sql: String = graft.llm.TextStats.fpWithCte +
    """, nb AS (
      |  SELECT d.doc_id, ((f.fingerprint % 65536) + 65536) % 65536 AS bucket,
      |    md5(d.text) AS h
      |  FROM documents d JOIN fp f ON d.doc_id = f.doc_id
      |  WHERE d.doc_id % 3 = 0
      |), sb AS (
      |  SELECT DISTINCT ((f.fingerprint % 65536) + 65536) % 65536 AS bucket
      |  FROM documents d JOIN fp f ON d.doc_id = f.doc_id
      |  WHERE d.doc_id % 3 <> 0
      |), sd AS (
      |  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 3 <> 0
      |)
      |SELECT n.doc_id, n.bucket,
      |  CASE WHEN sb.bucket IS NULL THEN 'unique_fast'
      |       WHEN sd.h IS NOT NULL THEN 'exact_dup'
      |       ELSE 'collision' END AS status
      |FROM nb n LEFT JOIN sb ON n.bucket = sb.bucket
      |LEFT JOIN sd ON n.h = sd.h
      |ORDER BY n.doc_id""".stripMargin

  /** d05 oracle: the full SimHash pipeline re-expressed in SQL — the
    * FNV-1a + murmur-finalizer token hash as a `list_reduce` fold in
    * HUGEINT mod-2^64 arithmetic (the two ≥2^63 finalizer constants
    * multiply via 32-bit limb splitting so the 128-bit intermediate
    * never overflows HUGEINT), per-bit ±1 votes, sign-of-sum signature,
    * then all-pairs hamming ≤ 3 via xor + bit_count. The pair set equals
    * the engine's chunk-bucketed join output because the pigeonhole
    * bucketing is exact for hamming ≤ 3. */
  val d05Sql: String = {
    val two32 = "4294967296::HUGEINT"
    val two63 = "9223372036854775808::HUGEINT"
    val two64 = "18446744073709551616::HUGEINT"
    // (a * m) mod 2^64 without 128-bit overflow, for 64-bit constant m
    def modmul(a: String, m: String): String =
      s"((($a) % $two32) * $m::HUGEINT " +
        s"+ ((((($a) // $two32)) * $m::HUGEINT) % $two32) * $two32) % $two64"
    val fnvOff = java.lang.Long.toUnsignedString(0xcbf29ce484222325L)
    val fnvPrime = 0x100000001b3L.toString // < 2^41: direct mul stays exact
    val m1 = java.lang.Long.toUnsignedString(0xff51afd7ed558ccdL)
    val m2 = java.lang.Long.toUnsignedString(0xc4ceb9fe1a85ec53L)
    val shift33 = "8589934592" // 2^33: x // 2^33 == x >>> 33 for x >= 0
    val fold = s"list_reduce(list_prepend($fnvOff::HUGEINT, " +
      "list_transform(range(1, length(w) + 1), i -> unicode(w[i])::HUGEINT)), " +
      s"(acc, b) -> (xor(acc, b) * $fnvPrime::HUGEINT) % $two64)"
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
       |), words AS (SELECT DISTINCT w FROM tok),
       |wh0 AS (SELECT w, $fold AS h0 FROM words),
       |wh1 AS (SELECT w, ${modmul(s"xor(h0, h0 // $shift33)", m1)} AS h1 FROM wh0),
       |wh2 AS (SELECT w, ${modmul(s"xor(h1, h1 // $shift33)", m2)} AS h2 FROM wh1),
       |wh AS (SELECT w, xor(h2, h2 // $shift33) AS h FROM wh2),
       |th AS (SELECT t.doc_id, wh.h FROM tok t JOIN wh ON t.w = wh.w),
       |votes AS (
       |  SELECT doc_id, j,
       |    SUM(CASE WHEN (h // power(2, j)::HUGEINT) % 2 = 1
       |        THEN 1 ELSE -1 END) AS v
       |  FROM th, range(0, 64) t(j) GROUP BY doc_id, j
       |),
       |sig AS (
       |  SELECT doc_id,
       |    CAST(CASE WHEN u >= $two63 THEN u - $two64 ELSE u END AS BIGINT)
       |      AS simhash
       |  FROM (SELECT doc_id,
       |          SUM(CASE WHEN v > 0 THEN power(2, j)::HUGEINT
       |              ELSE 0::HUGEINT END) % $two64 AS u
       |        FROM votes GROUP BY doc_id)
       |)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** d06 oracle: the shared DOUBLE[]-cast/norm CTE ([[Similarity.normCte]]
    * — one definition of the "bit-identical to VecDot" contract) plus the
    * 0.4-threshold pair select. */
  val d06Sql: String = Similarity.normCte +
    """
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |  list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
      |FROM nn a JOIN nn b ON a.vec_id < b.vec_id
      |WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4
      |ORDER BY vec_a, vec_b""".stripMargin

  val registry: Seq[Query] = Seq(
    // the index-served incremental dedup provably equals the
    // from-scratch d10, so the oracle is d10's SQL — for d19 (probe of
    // the grown index: build half, append half, same standing corpus)
    // AND d18 (probe of the single-shot index)
    Query("d19_incremental_index_append", d19IncrementalIndexAppend,
      Some(d10Sql)),
    Query("d20_index_takedown", d20IndexTakedown, Some(d20Sql)),
    Query("d18_persisted_dedup_index", d18PersistedDedupIndex, Some(d10Sql)),
    Query("d17_decontamination", d17Decontamination, Some(d17Sql)),
    Query("d16_shared_span_pairs", d16SharedSpanPairs, Some(d16Sql)),
    Query("d01_exact_dedup", d01ExactDedup, Some(d01Sql)),
    Query("d02_hash_dedup", d02HashDedup, Some(d02Sql)),
    Query("d03_minhash_lsh", d03MinHashLsh, Some(d03Sql)),
    Query("d04_ngram_jaccard", d04NgramJaccard, Some(d04Sql)),
    Query("d05_simhash", d05SimHash, Some(d05Sql)),
    Query("d06_embedding_near_dup", d06EmbeddingNearDup, Some(d06Sql)),
    Query("d08_ppjoin", d08PpJoin, Some(d08Sql)),
    Query("d10_incremental_dedup", d10IncrementalDedup, Some(d10Sql)),
    Query("d12_edit_distance", d12EditDistance, Some(d12Sql)),
    Query("d13_containment", d13Containment, Some(d13Sql)),
    Query("d14_bloom_prefilter", d14BloomPrefilter, Some(d14Sql)),
    Query("d15_dup_spans", d15DupSpans, Some(d15Sql)),
  )
}
