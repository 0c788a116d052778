package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Corpus-cleaning operators a training-data pipeline runs between
  * ingestion and dedup: interdoc boilerplate removal (t11) and PII
  * redaction (t12).
  *
  * The reference (`/root/reference/R/DataFrameOperationR.R:70-86`)
  * hands user scripts raw frames and persists what they return; these
  * are the canonical "user script" cleaning stages re-expressed as
  * engine operators — declarative plans Catalyst can optimize, no
  * driver-side text processing anywhere.
  */
object TextClean {

  // ---------------------------------------------------------------------
  // t11: interdoc boilerplate removal
  // ---------------------------------------------------------------------

  /** Tokens per non-overlapping chunk. 8 keeps chunks long enough that
    * cross-doc repeats signal shared boilerplate rather than chance
    * n-gram collisions (the fixture vocabulary is ~40 words; 8-token
    * chunks still land ~96% unique at sf0.1). */
  val ChunkTokens = 8

  /** A chunk appearing in ≥ this many DISTINCT docs is boilerplate.
    * 3 (not 2) keeps planted near-duplicate PAIRS intact — pairwise
    * duplication is dedup's job (d01-d11), not boilerplate removal's;
    * template text shared by whole families of docs is what this
    * operator strips (headers, footers, licence blocks, nav chrome). */
  val BoilerplateDf = 3

  /** Frame-parameterized core over any (doc_id, text) relation: split
    * each doc into non-overlapping [[ChunkTokens]]-token chunks, count
    * each distinct chunk's document frequency corpus-wide, drop chunks
    * in ≥ [[BoilerplateDf]] docs, and reassemble the surviving chunks
    * in original order.
    *
    * Plan shape at 100 TB (the CCNet paragraph-dedup shape): one
    * chunk-explode (narrow), one groupBy(chunk) for document
    * frequency — the only shuffle that moves chunk text, with map-side
    * partial counts — and the boilerplate set (df ≥ 3 survivors, a
    * tiny fraction of distinct chunks) broadcasts back onto the
    * exploded frame as an anti-join. Reassembly is a per-doc groupBy
    * whose array_sort(collect_list) restores chunk order without a
    * global sort. */
  private[graft] def boilerplateCleaned(docs: DataFrame): DataFrame = {
    val chunks = docs
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"),
        posexplode(expr(
          s"""transform(
             |  sequence(0, CAST((size(ws) + ${ChunkTokens - 1}) DIV $ChunkTokens AS INT) - 1),
             |  i -> array_join(slice(ws, i * $ChunkTokens + 1, $ChunkTokens), ' '))"""
            .stripMargin)).as(Seq("chunk_idx", "chunk")))
    val boiler = chunks.groupBy(col("chunk"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= BoilerplateDf)
      .select(col("chunk"))
    val kept = chunks.join(boiler, Seq("chunk"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(struct(chunk_idx, chunk))), x -> x.chunk), ' ')")
          .as("clean_text"))
    chunks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** t11: interdoc boilerplate removal over the documents table. */
  def t11Boilerplate(spark: SparkSession, dir: String): DataFrame =
    boilerplateCleaned(Tables(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  /** Oracle: same chunking (DuckDB's 1-based clamped list_slice ≡
    * Spark's slice), same df threshold, string_agg ORDER BY chunk_idx
    * ≡ the array_sort reassembly. */
  val t11Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |), idx AS (
       |  SELECT doc_id, ws,
       |    unnest(range(0, (len(ws) + ${ChunkTokens - 1}) // $ChunkTokens)) AS ci
       |  FROM toks
       |), ck AS (
       |  SELECT doc_id, ci,
       |    array_to_string(
       |      list_slice(ws, ci * $ChunkTokens + 1, ci * $ChunkTokens + $ChunkTokens),
       |      ' ') AS chunk
       |  FROM idx
       |), boiler AS (
       |  SELECT chunk FROM ck GROUP BY chunk
       |  HAVING COUNT(DISTINCT doc_id) >= $BoilerplateDf
       |), kept AS (
       |  SELECT doc_id, COUNT(*) AS n_kept,
       |    string_agg(chunk, ' ' ORDER BY ci) AS clean_text
       |  FROM ck WHERE chunk NOT IN (SELECT chunk FROM boiler)
       |  GROUP BY doc_id
       |), tot AS (
       |  SELECT doc_id, COUNT(*) AS n_chunks FROM ck GROUP BY doc_id
       |)
       |SELECT t.doc_id, t.n_chunks,
       |  COALESCE(k.n_kept, 0) AS n_kept,
       |  COALESCE(k.clean_text, '') AS clean_text
       |FROM tot t LEFT JOIN kept k USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // t12: PII redaction
  // ---------------------------------------------------------------------

  /** RE2-compatible PII patterns (no backreferences, no lookaround —
    * identical semantics under Java regex and DuckDB's RE2): email,
    * dotted-quad IPv4, NNN-NNNN phone. Shared verbatim by the Spark
    * plan and the oracle SQL so the two regex engines see one source
    * of truth. */
  val EmailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  val Ipv4Re = """\b(\d{1,3}\.){3}\d{1,3}\b"""
  val PhoneRe = """\b\d{3}-\d{4}\b"""

  /** Redact all three PII classes in `c` (order matters only in that
    * email runs first — its local-part may contain digits a later
    * pattern could clip mid-token). */
  private[graft] def redact(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** t12: PII detection + redaction. The fixture corpus carries no PII
    * by construction, so the query first plants a deterministic PII
    * tail (email/IP/phone derived from doc_id) on each document to
    * exercise the redactor end-to-end — in production the same
    * [[redact]] column expression points at the raw text column and
    * the planting projection disappears. Everything is a codegen'd
    * per-row projection: no shuffle, no UDF, scan → project. */
  def t12PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val planted = Tables(spark, dir, "documents")
      .withColumn("text2", concat_ws(" ",
        col("text"),
        lit("contact"),
        concat(lit("user"), col("doc_id"), lit("@example.com")),
        lit("ip"),
        concat(lit("10."), col("doc_id") % 256, lit("."),
          (col("doc_id") * 7) % 256, lit("."), (col("doc_id") * 13) % 256),
        lit("tel"),
        concat(lit("555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))))
    planted.select(
      col("doc_id"),
      regexp_count(col("text2"), lit(EmailRe)).cast("long").as("n_email"),
      regexp_count(col("text2"), lit(Ipv4Re)).cast("long").as("n_ip"),
      regexp_count(col("text2"), lit(PhoneRe)).cast("long").as("n_phone"),
      redact(col("text2")).as("redacted"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: same planted tail, same patterns, DuckDB regexp with the
    * 'g' flag ≡ Spark's replace-all default; counts via
    * len(regexp_extract_all). */
  val t12Sql: String = {
    val email = EmailRe
    val ip = Ipv4Re
    val phone = PhoneRe
    s"""WITH planted AS (
       |  SELECT doc_id,
       |    text || ' contact user' || doc_id || '@example.com ip 10.' ||
       |      (doc_id % 256) || '.' || ((doc_id * 7) % 256) || '.' ||
       |      ((doc_id * 13) % 256) || ' tel 555-' ||
       |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text2
       |  FROM documents
       |)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(text2, '$email')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(text2, '$ip')) AS BIGINT) AS n_ip,
       |  CAST(len(regexp_extract_all(text2, '$phone')) AS BIGINT) AS n_phone,
       |  regexp_replace(
       |    regexp_replace(
       |      regexp_replace(text2, '$email', '<EMAIL>', 'g'),
       |      '$ip', '<IP>', 'g'),
       |    '$phone', '<PHONE>', 'g') AS redacted
       |FROM planted ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // t14: hard-rule document filter (C4/Gopher-style keep/reject gates)
  // ---------------------------------------------------------------------

  /** Stopword set shared with t02's scorer — the C4 "contains natural
    * language" proxy needs function words, and one list must serve both
    * the soft score and the hard gate so they cannot drift. */
  private val filterStopwords =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "on", "for", "with")

  /** t14: the hard-gate counterpart of t02's soft quality score — each
    * document gets one boolean per published filter rule (C4: minimum
    * word count + minimum stopword evidence; Gopher: mean-word-length
    * band, symbol ratio, lexical-diversity floor) and a conjunctive
    * `keep`. Production pipelines run the gate as a filter; the query
    * emits the per-rule verdicts so rejected docs are attributable (the
    * usual corpus-card requirement).
    *
    * Every rule is integer arithmetic on token/char counts — no
    * doubles anywhere, so both engines agree bit-for-bit:
    *   - `r_len`: n_words ≥ 20 (C4 short-doc gate)
    *   - `r_wordlen`: 3·n_words ≤ total_word_chars ≤ 10·n_words
    *     (Gopher mean-word-length band, cross-multiplied)
    *   - `r_stop`: ≥ 2 stopword tokens (C4 natural-language evidence)
    *   - `r_symbol`: 10 · junk_chars ≤ n_chars (symbol ratio ≤ 10%)
    *   - `r_diverse`: 2 · n_distinct ≥ n_words (type-token ratio ≥ ½,
    *     the Gopher repetition gate — the fixture vocabulary is ~40
    *     words, so long synthetic docs genuinely fail this one)
    *
    * Plan shape at 100 TB: scan → codegen'd per-row projection, no
    * shuffle, no UDF (`count_in_set` is a custom codegen Expression);
    * the ORDER BY is presentation-only. */
  def t14RuleFilter(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("word_chars", (col("n_chars") - col("n_words") + 1))
      .withColumn("n_stop",
        expr(s"count_in_set(ws, '${filterStopwords.mkString(",")}')")
          .cast("long"))
      .withColumn("n_junk",
        length(regexp_replace(col("text"), "[a-z0-9 ]", "")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("ws"))).cast("long"))
      .select(
        col("doc_id"), col("n_words"), col("n_stop"),
        (col("n_words") >= 20).as("r_len"),
        (col("word_chars") >= col("n_words") * 3 &&
          col("word_chars") <= col("n_words") * 10).as("r_wordlen"),
        (col("n_stop") >= 2).as("r_stop"),
        (col("n_junk") * 10 <= col("n_chars")).as("r_symbol"),
        (col("n_distinct") * 2 >= col("n_words")).as("r_diverse"))
      .withColumn("keep",
        col("r_len") && col("r_wordlen") && col("r_stop") &&
          col("r_symbol") && col("r_diverse"))
      .orderBy(col("doc_id"))
  }

  val t14Sql: String = {
    val list = filterStopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH f AS (
       |  SELECT doc_id,
       |    len(string_split(text, ' ')) AS n_words,
       |    n_chars - len(string_split(text, ' ')) + 1 AS word_chars,
       |    len(list_filter(string_split(text, ' '),
       |      w -> list_contains([$list], w))) AS n_stop,
       |    length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_junk,
       |    len(list_distinct(string_split(text, ' '))) AS n_distinct,
       |    n_chars
       |  FROM documents
       |)
       |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       |  CAST(n_stop AS BIGINT) AS n_stop,
       |  n_words >= 20 AS r_len,
       |  word_chars BETWEEN n_words * 3 AND n_words * 10 AS r_wordlen,
       |  n_stop >= 2 AS r_stop,
       |  n_junk * 10 <= n_chars AS r_symbol,
       |  n_distinct * 2 >= n_words AS r_diverse,
       |  (n_words >= 20 AND word_chars BETWEEN n_words * 3 AND n_words * 10
       |    AND n_stop >= 2 AND n_junk * 10 <= n_chars
       |    AND n_distinct * 2 >= n_words) AS keep
       |FROM f ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // t15: intra-doc repetition removal
  // ---------------------------------------------------------------------

  /** t15: WITHIN-document repetition removal — the transform counterpart
    * of t07's repetition *signals* and the intra-doc sibling of t11's
    * interdoc boilerplate strip (Gopher drops highly repetitious docs
    * wholesale; pipelines that would rather salvage them strip the
    * repeats). Each doc is chunked exactly like t11; a chunk survives
    * only at its FIRST occurrence within its own document, and the
    * survivors reassemble in original order.
    *
    * The dedup IS the aggregation: `groupBy(doc_id, chunk).min(chunk_idx)`
    * both removes repeats and remembers where each survivor goes — no
    * window function, so the plan is two partial-aggregated shuffles
    * ((doc_id, chunk) then doc_id reassembly) and chunk text never
    * moves except for those two hops. Per-doc state is bounded by the
    * doc's own distinct-chunk count, so a pathological 1 GB document
    * cannot hot-spot a task beyond its own size. */
  def t15RepeatStrip(spark: SparkSession, dir: String): DataFrame = {
    // the synthetic corpus has no natural intra-doc chunk repeats at
    // any SF, so the operator's input PLANTS them deterministically
    // (t13 precedent): every 7th doc with >= 16 tokens is truncated to
    // a chunk-aligned prefix and its first two chunks are re-appended —
    // byte-identical planting in the oracle, so the strip itself is
    // what the hash verifies
    val chunks = Tables(spark, dir, "documents")
      .withColumn("ws0", split(col("text"), " "))
      .withColumn("ws", expr(
        s"""CASE WHEN doc_id % 7 = 0 AND size(ws0) >= 16
           |  THEN concat(slice(ws0, 1, (size(ws0) DIV $ChunkTokens) * $ChunkTokens),
           |              slice(ws0, 1, ${2 * ChunkTokens}))
           |  ELSE ws0 END""".stripMargin))
      .select(col("doc_id"),
        posexplode(expr(
          s"""transform(
             |  sequence(0, CAST((size(ws) + ${ChunkTokens - 1}) DIV $ChunkTokens AS INT) - 1),
             |  i -> array_join(slice(ws, i * $ChunkTokens + 1, $ChunkTokens), ' '))"""
            .stripMargin)).as(Seq("chunk_idx", "chunk")))
    val kept = chunks
      .groupBy(col("doc_id"), col("chunk"))
      .agg(min(col("chunk_idx")).as("ci"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(struct(ci, chunk))), x -> x.chunk), ' ')")
          .as("clean_text"))
    chunks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"), col("n_kept"),
        (col("n_chunks") - col("n_kept")).as("n_stripped"),
        col("clean_text"))
      .orderBy(col("doc_id"))
  }

  val t15Sql: String =
    s"""WITH toks0 AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws0 FROM documents
       |), toks AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 AND len(ws0) >= 16
       |      THEN list_concat(
       |        list_slice(ws0, 1, (len(ws0) // $ChunkTokens) * $ChunkTokens),
       |        list_slice(ws0, 1, ${2 * ChunkTokens}))
       |      ELSE ws0 END AS ws
       |  FROM toks0
       |), idx AS (
       |  SELECT doc_id, ws,
       |    unnest(range(0, (len(ws) + ${ChunkTokens - 1}) // $ChunkTokens)) AS ci
       |  FROM toks
       |), ck AS (
       |  SELECT doc_id, ci,
       |    array_to_string(
       |      list_slice(ws, ci * $ChunkTokens + 1, ci * $ChunkTokens + $ChunkTokens),
       |      ' ') AS chunk
       |  FROM idx
       |), firsts AS (
       |  SELECT doc_id, chunk, MIN(ci) AS ci FROM ck GROUP BY doc_id, chunk
       |), kept AS (
       |  SELECT doc_id, COUNT(*) AS n_kept,
       |    string_agg(chunk, ' ' ORDER BY ci) AS clean_text
       |  FROM firsts GROUP BY doc_id
       |), tot AS (
       |  SELECT doc_id, COUNT(*) AS n_chunks FROM ck GROUP BY doc_id
       |)
       |SELECT t.doc_id, t.n_chunks, k.n_kept,
       |  t.n_chunks - k.n_kept AS n_stripped, k.clean_text
       |FROM tot t JOIN kept k USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("t11_boilerplate", t11Boilerplate, Some(t11Sql)),
    Query("t12_pii_redact", t12PiiRedact, Some(t12Sql)),
    Query("t14_rule_filter", t14RuleFilter, Some(t14Sql)),
    Query("t15_repeat_strip", t15RepeatStrip, Some(t15Sql)),
  )
}
