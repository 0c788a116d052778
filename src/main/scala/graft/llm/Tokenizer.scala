package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{Query, Tables}

/** Tokenizer induction + application over the `documents` fixture:
  * distributed BPE merge learning (Sennrich et al. 2016, "Neural
  * Machine Translation of Rare Words with Subword Units") and the
  * matching corpus encoder — the training-data pipeline step the
  * token-counting family (t01's chars/4 estimate) only approximates.
  * The reference repo has no tokenizer surface (its text handling stops
  * at CSV cells, `R/DataFrameOperationR.R:241`), so like the rest of the
  * `llm` package this is a capability extension, not a parity port.
  *
  * Scale shape — the reason BPE training distributes at all: the corpus
  * is touched by exactly ONE scan (explode words → weighted vocabulary
  * via a map-side-combining groupBy). Every merge round after that runs
  * on the vocabulary table, whose row count tracks token TYPES, not
  * corpus size — the same table a 100 TB corpus reduces to, which is
  * why production BPE trainers (SentencePiece's distributed ports,
  * HuggingFace tokenizers' word-count entry point) all take a word
  * frequency table as their working set. Rounds localCheckpoint the
  * vocabulary frame (the g01 Pregel posture: without it the lazy plan
  * doubles per round — each round references the previous frame twice,
  * once for pair counts and once for the rewrite). Encoding (t20) is
  * the same trade on the apply side: segment the TYPES once, then one
  * broadcast type→token-count join over the exploded corpus — never a
  * per-row re-tokenization.
  *
  * Merge contract (shared bit-for-bit with the DuckDB oracle):
  *  - words = whitespace tokens with length >= 2 (single-char words
  *    carry no adjacent pair and can never be rewritten; the encoder
  *    counts them as one token directly);
  *  - a word's symbol string is its characters joined by single spaces
  *    with one leading and one trailing sentinel space (" h e l l o ");
  *  - pair counts sum word frequencies over ADJACENT symbol pairs
  *    (overlapping occurrences each count, the classic BPE statistic);
  *  - the winning pair is (max count, then lexicographically least
  *    pair) — an integer-exact, total order both engines share;
  *  - the rewrite applies `replace(sym, " a b ", " ab ")` FOUR times.
  *    One `replace` pass merges the leftmost available occurrences but
  *    resumes scanning after each replacement, so within a run like
  *    "a b a b" the consumed boundary space hides every other match;
  *    each extra pass at least halves the survivors, so four passes
  *    reach the no-remaining-occurrence fixpoint for any run of up to
  *    31 pending matches (words of 62+ repeating characters do not
  *    occur in natural-language corpora; if one ever did, both engines
  *    still agree — the pass count IS the contract, fixpoint-ness is
  *    not). For pairs of two DISTINCT symbols this equals strict
  *    left-to-right BPE (their occurrences are disjoint and the passes
  *    merge all of them); a SAME-symbol run may both segment
  *    differently AND merge fewer times in its round than strict BPE
  *    (" a a a a a a a a " four-passes to "aa a aa a aa", 3 merges,
  *    where left-to-right gives "aa aa aa aa", 4), the remainder
  *    falling to later rounds if the pair wins again. The procedure —
  *    not any particular library's BPE — is the contract, and it is
  *    deterministic and shared bit-for-bit by both engines.
  */
object Tokenizer {

  /** Merge rounds learned / applied. */
  val BpeMerges = 8

  /** Replace passes per round — see the merge contract above. */
  val BpePasses = 4

  /** Most merges rewritten by ONE chained replace expression: 16
    * merges × [[BpePasses]] = 64 nested StringReplace nodes — the
    * same order as the encoder's full-table replay (8 × 4), known
    * codegen-friendly. Larger commuting batches apply as a chain of
    * checkpointed chunk rewrites ([[bpeRoundsBatched]]). */
  val MaxMergesPerRewrite = 16

  private def wordFreq(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** Run the [[BpeMerges]] rounds; returns (merge table, final
    * vocabulary). Runs exactly once per corpus, inside
    * [[bpeVocabBase]]'s artifact build — the trained tokenizer is a
    * shipped model, never a per-query subtree. The shipped artifact
    * trains at batch width 1, which IS the sequential contract the
    * oracle replays bit-for-bit; [[bpeRoundsBatched]] is the same
    * body. */
  private def bpeRounds(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    bpeRoundsBatched(spark, dir, BpeMerges, 1)

  /** Spark jobs the last [[bpeRoundsBatched]] training spent (pair
    * count + rewrite rounds) — what the batched trainer buys down. */
  private[graft] val lastTrainRounds =
    new java.util.concurrent.atomic.AtomicInteger

  /** The ONE BPE training loop, at configurable batch width — the
    * distributed-trainer posture (VERDICT r12 #4): one Spark job pair
    * (pair-count + rewrite) per ROUND, not per merge, because a
    * production 32k-merge vocabulary at one merge per round is 32k
    * sequential driver-dispatched jobs — the driver loop, not the
    * data, becomes the bottleneck.
    *
    * Per round: pair statistics over the (vocab-sized) symbol table,
    * then the top-`batchK` MUTUALLY NON-INTERACTING pairs are admitted
    * in ranked order — a candidate is skipped when any of its three
    * symbols (both endpoints and the merged token) collides with an
    * already-admitted pair's three. Disjoint symbol sets make the
    * batch's rewrites COMMUTE: no admitted pattern can overlap another
    * admitted pattern's occurrence sites, and no admitted rewrite can
    * create or destroy another's match (the merged-token check is
    * what blocks "a b"→ab from feeding a same-round "c ab" — without
    * it the chained result would be order-dependent). One chained
    * rewrite pass then applies the whole batch.
    *
    * Batched greedy BPE is the standard large-vocab trade (it is what
    * distributed SentencePiece-style trainers ship): ranks after the
    * first in a batch are computed from the PRE-batch statistics, so
    * at `batchK > 1` the learned table may diverge from strict
    * sequential BPE where an earlier merge in the batch would have
    * changed a later pick's count. At `batchK = 1` the admission is
    * exactly "the single best pair" and the loop IS the sequential
    * contract — the shipped artifact trains there, so every oracle
    * replay stays bit-identical; a deployment learning 32k merges
    * flips the width (32k merges at K=256 ≈ 125 rounds).
    *
    * Checkpoint discipline as before ([[graft.Checkpoints]]): each
    * round's vocabulary is localCheckpoint'd (the lazy plan otherwise
    * doubles per round) and released as its successor materializes.
    * The winner selection collects a top-slice of the pair table to
    * the driver (4·K+4 rows) — candidate-scale, the coarse-centroid
    * coordinator pattern, and the reason no winner frames leak. */
  private[graft] def bpeRoundsBatched(spark: SparkSession, dir: String,
      totalMerges: Int, batchK: Int): (DataFrame, DataFrame) = {
    require(batchK >= 1, s"batch width must be positive, got $batchK")
    // " a b " sentinel form of each word's character sequence, the
    // original word carried alongside for the encoder's join-back.
    // Built from an explicit index transform, NOT `split(w, "")`:
    // Spark's regex split keeps a trailing zero-width field under
    // limit -1, which would fabricate an empty symbol.
    var cur = wordFreq(spark, dir)
      .select(col("w"),
        concat(lit(" "),
          array_join(
            expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"),
            " "),
          lit(" ")).as("sym"),
        col("freq"))
      .localCheckpoint(true)

    val selected =
      scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var rounds = 0
    var dry = false
    while (selected.size < totalMerges && !dry) {
      rounds += 1
      val k = math.min(batchK, totalMerges - selected.size)
      // adjacent-pair statistics over the (vocab-sized) symbol table
      val pairs = cur
        .select(col("freq"), split(trim(col("sym")), " ").as("l"))
        .select(col("freq"), explode(expr(
          "zip_with(slice(l, 1, size(l) - 1), slice(l, 2, size(l) - 1), " +
            "(a, b) -> concat(a, ' ', b))")).as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
      // ranked candidate slice; oversampled so conflict skips can
      // still fill the batch on ordinary corpora
      val cand = pairs.orderBy(col("cnt").desc, col("pair").asc)
        .limit(4 * k + 4).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      val batch = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      val taken = scala.collection.mutable.Set.empty[String]
      cand.iterator.takeWhile(_ => batch.size < k).foreach {
        case (pair, cnt) =>
          val Array(a, b) = pair.split(" ")
          val syms = Seq(a, b, a + b)
          if (syms.forall(!taken(_))) {
            batch += ((pair, cnt))
            taken ++= syms
          }
      }
      if (batch.isEmpty) dry = true // the pair table ran dry
      else {
        batch.foreach { case (pair, cnt) =>
          selected += ((pair, pair.replace(" ", ""), cnt))
        }
        // the batch rewrites in CHUNKS of [[MaxMergesPerRewrite]]:
        // patterns are driver literals chained into one replace
        // expression per chunk (the pass contract above; a dry round
        // never reaches here — the old empty-winner left-join guard,
        // now structural), and chunking bounds the Catalyst
        // expression depth — one K=256 chunk would nest ~1024
        // StringReplace nodes, risking analyzer stack overflow and a
        // guaranteed fall out of whole-stage codegen at exactly the
        // width the batching exists for (review-caught). Chunks of a
        // commuting batch compose in any order, so the checkpointed
        // chunk chain equals the single-expression rewrite.
        val next = batch.grouped(MaxMergesPerRewrite)
          .foldLeft(cur) { (frame, chunk) =>
            val rewritten = chunk.foldLeft(col("sym"): Column) {
              case (s, (pair, _)) =>
                val merged = pair.replace(" ", "")
                (1 to BpePasses).foldLeft(s)((t, _) =>
                  replace(t, lit(s" $pair "), lit(s" $merged ")))
            }
            val nf = frame
              .select(col("w"), rewritten.as("sym"), col("freq"))
              .localCheckpoint(true)
            // nf is materialized — the superseded frame's blocks are
            // dead; free them now (Checkpoints doc)
            graft.Checkpoints.release(frame)
            nf
          }
        cur = next
      }
    }
    lastTrainRounds.set(rounds)
    import spark.implicits._
    val merges = selected.toSeq.zipWithIndex
      .map { case ((pair, merged, cnt), i) => (i + 1, pair, merged, cnt) }
      .toDF("merge_rank", "pair", "merged", "cnt")
    (merges, cur)
  }

  // ------------------------------------------------------------------
  // the persisted vocabulary — tokenizers are trained once and SHIPPED
  // ------------------------------------------------------------------

  private[graft] val bpeVocab = graft.io.Artifact("bpe-vocab")

  /** Declared read schemas (empty-corpus artifacts write file-less
    * dirs; and an artifact reader knows its format). */
  private[graft] val mergesSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("merge_rank",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("pair",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("merged",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("cnt", LongType)))
  private[graft] val vocabSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("w",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("sym",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("freq", LongType)))

  /** The persisted tokenizer artifact — train once, SHIP, apply many:
    * exactly how production tokenizers live (a trained SentencePiece /
    * HF tokenizers model is a distributed file every pipeline stage
    * loads, never retrained per job). Layout under one
    * [[graft.io.ArtifactStore]] base, fingerprinted over the training
    * corpus:
    *
    *  - `merges/` — the learned merge table (merge_rank, pair, merged,
    *    cnt): the model every BPE implementation serializes;
    *  - `vocab/` — the segmented TYPES table (w, sym, freq): the
    *    apply-side map, materialized so encoders pay a broadcast read
    *    instead of replaying the eight merge rounds.
    *
    * The whole tokenizer family (t19 merges, t20 encode, t21 fertility
    * audit, p22 exact-token packing) serves from this one artifact —
    * training runs at most once per corpus per deployment (counter
    * spec-pinned), and the training chain's determinism + parquet's
    * exact string/long round-trip keep every oracle (which replays
    * training in SQL) hash-identical. */
  private[graft] def bpeVocabBase(spark: SparkSession, dir: String): String =
    // keyed by the documents' row-hash fingerprint, the text families'
    bpeVocab.ensure(dir)(IndexFamily.Bm25.parts(
        Tables(spark, dir, "documents"))) { staging =>
      val (merges, vocab) = bpeRounds(spark, dir)
      merges.coalesce(1).write.mode("overwrite")
        .parquet(s"$staging/merges")
      vocab.coalesce(1).sortWithinPartitions(col("w"))
        .write.mode("overwrite").parquet(s"$staging/vocab")
      // both tables are on disk: the vocabulary checkpoint (and the
      // winners the merge union references) are dead — free them
      // instead of leaking one vocab-scale block set per training
      // (the d07 storage-regression class)
      graft.Checkpoints.release(vocab)
    }

  /** t19: learn the first [[BpeMerges]] BPE merges over the corpus.
    * Output: one row per learned merge — (merge_rank, pair, merged,
    * cnt), K rows on any corpus rich enough to feed them (fewer only
    * when the vocabulary runs out of adjacent pairs; an empty corpus
    * yields an empty merge table — EmptyInputSpec exercises that).
    * Served FROM the persisted artifact: the training chain runs at
    * most once per corpus ([[bpeVocabBase]]); the query itself is one
    * artifact scan. */
  def t19BpeMerges(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(mergesSchema)
      .parquet(s"${bpeVocabBase(spark, dir)}/merges")
      .orderBy(col("merge_rank"))

  /** t20: encode the corpus under the learned merges — per document,
    * the whitespace word count and the exact token count under the
    * learned merge table and the pass contract above (the number every
    * shard-packing / token-budget decision actually wants; t01's
    * chars/4 was the estimate). Single-char words are one token by
    * definition; empty fields (split artifacts) are zero. */
  def t20BpeEncode(spark: SparkSession, dir: String): DataFrame =
    perDocBpeTokens(spark, dir).orderBy(col("doc_id"))

  /** The apply-side type→token-count map, read from the SHIPPED
    * vocabulary artifact ([[bpeVocabBase]]) — the broadcast every
    * encoder pays instead of a training pass. */
  private def storedTypeTokens(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(vocabSchema)
      .parquet(s"${bpeVocabBase(spark, dir)}/vocab")
      .select(col("w"),
        size(split(trim(col("sym")), " ")).cast(LongType).as("n"))

  /** Per-document exact encoding stats `(doc_id, n_words, n_bpe)` —
    * t20's core without the presentation sort, shared with the
    * packing consumer ([[Pipeline.p22BpePacking]]). */
  private[llm] def perDocBpeTokens(spark: SparkSession, dir: String): DataFrame =
    encodeDocs(Tables(spark, dir, "documents"), dir)

  /** Encode ANY `(doc_id, text)` frame under the corpus `dir`'s
    * shipped tokenizer — the apply side a streaming ingest runs per
    * micro-batch. Two tiers, both exact under the merge contract:
    *
    *  - words the shipped type map covers resolve through the
    *    broadcast `vocab/` lookup (the fast path — at train time the
    *    map covers the whole corpus, so batch consumers never leave
    *    it);
    *  - OUT-OF-VOCABULARY words (streaming arrivals the training
    *    corpus never saw) segment by REPLAYING the shipped merge
    *    table on the fly: the 8-row `merges/` table collects to the
    *    driver and unrolls into the same four-pass sentinel-space
    *    replace chain the trainer ran — a pure codegen'd column
    *    expression (32 string replaces), evaluated only on lookup
    *    misses. This is real BPE open-vocabulary behavior: an unseen
    *    word still takes every learned merge that applies, it is
    *    never just character-split.
    */
  /** Per-JVM memo of the COLLECTED 8-row merge list, keyed by artifact
    * base and validated against the marker fingerprint on every read
    * (the [[graft.io.Artifact]] memo discipline, inlined for a non-path
    * value): a streaming ingest calls [[encodeDocs]] per micro-batch,
    * and re-collecting an immutable shipped model per batch is a
    * needless driver-side job on the hot path (review-caught); a
    * retrained artifact moves its fingerprint and drops the memo. */
  private val mergeMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Seq[(String, String)])]()

  private def shippedMerges(spark: SparkSession,
      base: String): Seq[(String, String)] = {
    val fp = graft.io.ArtifactStore.currentFingerprint(base)
    val cur = mergeMemo.get(base)
    if (cur != null && fp.contains(cur._1)) cur._2
    else {
      val m = spark.read.schema(mergesSchema).parquet(s"$base/merges")
        .orderBy(col("merge_rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      fp.foreach(f => mergeMemo.put(base, (f, m)))
      m
    }
  }

  private[graft] def encodeDocs(docs: DataFrame, dir: String): DataFrame = {
    val spark = docs.sparkSession
    val typeTokens = storedTypeTokens(spark, dir)
    val merges = shippedMerges(spark, bpeVocabBase(spark, dir))
    val symCol = concat(lit(" "),
      array_join(
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"),
        " "),
      lit(" "))
    val rewritten = merges.foldLeft(symCol: Column) {
      case (s, (pair, merged)) =>
        (1 to BpePasses).foldLeft(s)((t, _) =>
          replace(t, lit(s" $pair "), lit(s" $merged ")))
    }
    val oovN = size(split(trim(rewritten), " ")).cast(LongType)
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .join(broadcast(typeTokens), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(when(length(col("w")) >= 1, lit(1))).as("n_words"),
        sum(when(length(col("w")) === 1, lit(1L))
          .when(length(col("w")) >= 2, coalesce(col("n"), oovN))
          .otherwise(lit(0L))).as("n_bpe"))
  }

  /** t21: per-language tokenizer audit under the learned merges — the
    * acceptance report every tokenizer-training run ends with (is the
    * vocabulary fair across languages, or does one language pay 2× the
    * tokens per character?). Per `lang`: document/word/char/token
    * totals plus the two ratios the decision actually reads, in
    * integer-exact permille so both engines agree bit-for-bit:
    *
    *  - `chars_per_token_e3` — compression (word chars per BPE token;
    *    higher = the vocabulary compresses this language better);
    *  - `fertility_e3` — tokens per whitespace word (the multilingual-
    *    fairness metric of the NLLB/BLOOM tokenizer reports; lower is
    *    better, 1000 = every word is one token).
    *
    * Char totals sum WORD characters (whitespace excluded) — the
    * numerator tokenization actually sees, not the raw `n_chars`
    * column. Plan shape: the vocabulary chain reduces to a broadcast
    * type→token map (t20's trade), then ONE corpus scan explodes to
    * words and ONE lang-key aggregate carries the four sums — no
    * corpus-scale join or second exchange; `NULLIF` guards the ratio
    * denominators (a language whose every document is empty text has
    * zero words/tokens — divide-by-zero class, EmptyInputSpec). */
  def t21BpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val typeTokens = storedTypeTokens(spark, dir)
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
      .join(broadcast(typeTokens), Seq("w"), "left")
      .groupBy(col("lang"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(when(length(col("w")) >= 1, lit(1))).as("n_words"),
        sum(length(col("w")).cast(LongType)).as("n_chars"),
        sum(when(length(col("w")) >= 2, col("n"))
          .when(length(col("w")) === 1, lit(1L))
          .otherwise(lit(0L))).as("n_tokens"))
      .withColumn("chars_per_token_e3",
        expr("(1000 * n_chars) div nullif(n_tokens, 0)"))
      .withColumn("fertility_e3",
        expr("(1000 * n_tokens) div nullif(n_words, 0)"))
      .orderBy(col("lang"))
  }

  // -------------------------------------------------------------------
  // oracle SQL — generated by the same loop bounds as the engine so the
  // two can never drift on K or the pass count
  // -------------------------------------------------------------------

  /** The shared CTE chain: w0 is the weighted character-symbol
    * vocabulary (word carried), then per round i: p_i pair counts, b_i
    * the (count desc, pair asc) winner, w_i the four-pass rewrite.
    * `finalVocab` mirrors the engine flag: whether round K rewrites. */
  private def bpeCtes(finalVocab: Boolean): String = {
    val w0 =
      """w0 AS (
        |  SELECT w, ' ' || array_to_string(list_transform(range(1, length(w) + 1),
        |      i -> substr(w, CAST(i AS INTEGER), 1)), ' ') || ' ' AS sym, freq
        |  FROM (SELECT w, COUNT(*) AS freq
        |        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |        WHERE length(w) >= 2 GROUP BY w)
        |)""".stripMargin
    val rounds = (1 to BpeMerges).map { i =>
      val p =
        s"""p$i AS (
           |  SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt
           |  FROM (SELECT freq, unnest(list_transform(range(1, len(l)),
           |          j -> l[CAST(j AS INTEGER)] || ' ' || l[CAST(j + 1 AS INTEGER)])) AS pair
           |        FROM (SELECT freq, string_split(trim(sym), ' ') AS l FROM w${i - 1}))
           |  GROUP BY pair
           |)""".stripMargin
      val b =
        s"""b$i AS (
           |  SELECT $i AS merge_rank, pair, replace(pair, ' ', '') AS merged, cnt
           |  FROM p$i ORDER BY cnt DESC, pair LIMIT 1
           |)""".stripMargin
      if (i == BpeMerges && !finalVocab) s"$p,\n$b"
      else {
        // LEFT JOIN ON TRUE + COALESCE mirrors the engine's empty-winner
        // guard: a dry pair table leaves the vocabulary unchanged
        // (replace against a NULL pattern is NULL -> coalesce keeps sym)
        val rewritten = (1 to BpePasses).foldLeft("sym")((s, _) =>
          s"replace($s, ' ' || b.pair || ' ', ' ' || b.merged || ' ')")
        s"$p,\n$b,\nw$i AS (\n  SELECT w, COALESCE($rewritten, sym) AS sym, freq\n" +
          s"  FROM w${i - 1} LEFT JOIN b$i b ON TRUE\n)"
      }
    }
    s"WITH $w0,\n${rounds.mkString(",\n")}"
  }

  val t19Sql: String = {
    val union = (1 to BpeMerges).map(i => s"SELECT * FROM b$i").mkString(" UNION ALL ")
    bpeCtes(finalVocab = false) +
      s"\nSELECT merge_rank, pair, merged, cnt FROM ($union) ORDER BY merge_rank"
  }

  /** The per-doc encode CTEs shared by t20 and p22's packing oracle:
    * appends `cnt`/`btok`/`doc_bpe` to [[bpeCtes]]'s chain, ending
    * with `doc_bpe(doc_id, n_words, n_bpe)`. */
  private[llm] val perDocBpeCtes: String =
    s""",
       |cnt AS (
       |  SELECT w, CAST(len(string_split(trim(sym), ' ')) AS BIGINT) AS n
       |  FROM w$BpeMerges
       |),
       |btok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |         FROM documents),
       |doc_bpe AS (
       |  SELECT t.doc_id,
       |    COUNT(CASE WHEN length(t.w) >= 1 THEN 1 END) AS n_words,
       |    CAST(SUM(CASE WHEN length(t.w) >= 2 THEN c.n
       |              WHEN length(t.w) = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_bpe
       |  FROM btok t LEFT JOIN cnt c ON c.w = t.w
       |  GROUP BY t.doc_id
       |)""".stripMargin

  /** [[bpeCtes]] + [[perDocBpeCtes]], exposed for oracle composition
    * (p22 splices its packing CTEs onto this chain). */
  private[llm] def bpeDocTokenCtes: String =
    bpeCtes(finalVocab = true) + perDocBpeCtes

  val t20Sql: String =
    bpeDocTokenCtes +
      """
        |SELECT doc_id, n_words, n_bpe FROM doc_bpe ORDER BY doc_id""".stripMargin

  val t21Sql: String =
    bpeCtes(finalVocab = true) +
      s""",
         |cnt AS (
         |  SELECT w, CAST(len(string_split(trim(sym), ' ')) AS BIGINT) AS n
         |  FROM w$BpeMerges
         |),
         |tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
         |        FROM documents),
         |agg AS (
         |  SELECT t.lang,
         |    CAST(COUNT(DISTINCT t.doc_id) AS BIGINT) AS n_docs,
         |    COUNT(CASE WHEN length(t.w) >= 1 THEN 1 END) AS n_words,
         |    CAST(SUM(length(t.w)) AS BIGINT) AS n_chars,
         |    CAST(SUM(CASE WHEN length(t.w) >= 2 THEN c.n
         |              WHEN length(t.w) = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_tokens
         |  FROM tok t LEFT JOIN cnt c ON c.w = t.w
         |  GROUP BY t.lang
         |)
         |SELECT lang, n_docs, n_words, n_chars, n_tokens,
         |  (1000 * n_chars) // NULLIF(n_tokens, 0) AS chars_per_token_e3,
         |  (1000 * n_tokens) // NULLIF(n_words, 0) AS fertility_e3
         |FROM agg ORDER BY lang""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("t19_bpe_merges", t19BpeMerges, Some(t19Sql)),
    Query("t20_bpe_encode", t20BpeEncode, Some(t20Sql)),
    Query("t21_bpe_fertility", t21BpeFertility, Some(t21Sql)),
  )
}
