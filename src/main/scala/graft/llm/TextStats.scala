package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Query, Tables}
import graft.functions.VectorExpressions

/** Text-analysis operators over the `documents` fixture: token counting,
  * quality scoring, language identification, fingerprinting. All pure
  * column expressions (codegen'd, no UDFs) — each document is scored
  * independently, so every operator is embarrassingly parallel and
  * scale-limited only by the scan.
  *
  * Oracle determinism: scores avoid transcendentals (ln/exp differ in
  * the last ulp across libm implementations); everything is rational
  * arithmetic on exact integers, which IEEE doubles reproduce bit-for-bit
  * in any engine.
  */
object TextStats {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .withColumn("ws", split(col("text"), " "))

  /** [[docs]] with the scale-adaptive parallelism floor
    * ([[graft.Tables.spread]]) — opt-in for the kernels whose per-doc
    * work outweighs the floor's exchange (~0.2-0.4 s on the round-14
    * box): blanket-spreading every t* query measured NET SLOWER
    * (OPTIMIZATION_r14.md), so only the measured winners use this. */
  private def docsSpread(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables(spark, dir, "documents"), col("doc_id"))
      .withColumn("ws", split(col("text"), " "))

  // ---------------------------------------------------------------------
  // t01: token counting
  // ---------------------------------------------------------------------

  /** Whitespace tokens, BPE-ish subword estimate (ceil of chars/4 per
    * token — the usual "4 chars ≈ 1 token" heuristic, computed exactly),
    * distinct tokens, type-token ratio, average word length. */
  def t01TokenStats(spark: SparkSession, dir: String): DataFrame =
    docsSpread(spark, dir)
      .select(
        col("doc_id"),
        size(col("ws")).cast(LongType).as("n_tokens"),
        size(array_distinct(col("ws"))).cast(LongType).as("n_distinct"),
        expr("aggregate(ws, cast(0 as bigint), " +
          "(acc, w) -> acc + cast(ceil(length(w) / 4.0) as bigint))")
          .as("n_subwords"),
        (size(array_distinct(col("ws"))).cast(DoubleType) /
          size(col("ws"))).as("ttr"),
        ((col("n_chars") - size(col("ws")) + 1).cast(DoubleType) /
          size(col("ws"))).as("avg_word_len"))
      .orderBy(col("doc_id"))

  val t01Sql: String =
    """SELECT doc_id,
      | len(string_split(text, ' ')) AS n_tokens,
      | len(list_distinct(string_split(text, ' '))) AS n_distinct,
      | CAST(list_sum(list_transform(string_split(text, ' '),
      |   w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT) AS n_subwords,
      | CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |   / len(string_split(text, ' ')) AS ttr,
      | CAST(n_chars - len(string_split(text, ' ')) + 1 AS DOUBLE)
      |   / len(string_split(text, ' ')) AS avg_word_len
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // t02: quality scoring
  // ---------------------------------------------------------------------

  private val stopwords =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "on", "for", "with")

  /** Frame-parameterized quality scorer: adds ws/n_stop/stop_ratio/
    * junk_ratio/len_factor/quality to any (doc_id, text, n_chars)
    * relation — the reusable core behind t02 and the dedup pipeline. */
  private[graft] def qualityScored(d: DataFrame): DataFrame = {
    VectorExpressions.register(d.sparkSession)
    d.withColumn("ws", split(col("text"), " "))
      // codegen'd hashed membership count — the filter+array_contains
      // HOF form runs an interpreted lambda + linear scan per token
      .withColumn("n_stop",
        expr(s"count_in_set(ws, '${stopwords.mkString(",")}')"))
      .withColumn("stop_ratio",
        col("n_stop").cast(DoubleType) / size(col("ws")))
      .withColumn("junk_ratio",
        length(regexp_replace(col("text"), "[a-z ]", "")).cast(DoubleType) /
          col("n_chars"))
      .withColumn("len_factor",
        least(lit(1.0), size(col("ws")).cast(DoubleType) / 100.0))
      .withColumn("quality",
        (lit(1.0) - col("junk_ratio")) * col("len_factor") *
          (lit(1.0) - col("stop_ratio") * 0.5))
  }

  /** The quality expression as oracle SQL text over (text, n_chars) —
    * kept in one place so t02's oracle and the pipeline oracle cannot
    * drift from each other (both mirror [[qualityScored]]). */
  private[llm] val qualitySqlExpr: String = {
    val list = stopwords.map(s => s"'$s'").mkString(", ")
    s"""(1.0 - CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE) / n_chars)
       |   * least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0)
       |   * (1.0 - CAST(len(list_filter(string_split(text, ' '),
       |       w -> list_contains([$list], w))) AS DOUBLE)
       |     / len(string_split(text, ' ')) * 0.5)""".stripMargin
  }

  /** Heuristic quality score from stopword ratio, non-text character
    * ratio and a length factor — the Gopher/C4-style cheap filters,
    * kept rational for oracle exactness. */
  def t02QualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityScored(Tables(spark, dir, "documents"))
      .select(col("doc_id"), col("n_stop").cast(LongType).as("n_stop"),
        col("stop_ratio"), col("junk_ratio"), col("len_factor"),
        col("quality"))
      .orderBy(col("doc_id"))

  val t02Sql: String = {
    val list = stopwords.map(s => s"'$s'").mkString(", ")
    s"""SELECT doc_id,
       | len(list_filter(string_split(text, ' '),
       |   w -> list_contains([$list], w))) AS n_stop,
       | CAST(len(list_filter(string_split(text, ' '),
       |   w -> list_contains([$list], w))) AS DOUBLE)
       |   / len(string_split(text, ' ')) AS stop_ratio,
       | CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE)
       |   / n_chars AS junk_ratio,
       | least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0)
       |   AS len_factor,
       | $qualitySqlExpr AS quality
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // t03: language identification (marker-word heuristic)
  // ---------------------------------------------------------------------

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "with", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "un"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "mit"),
    "fr" -> Seq("le", "les", "des", "et", "est", "une", "dans"),
    "zh" -> Seq("de5", "shi4", "zai4", "he2", "you3", "wo3", "le5"),
  )

  /** Per-language marker hit counts (cnt_en..cnt_zh) over a frame with
    * a `ws` token array — the shared scoring core of t03 and t10. */
  private def markerCounts(spark: SparkSession, base: DataFrame): DataFrame = {
    langMarkers.foldLeft(base) { case (df, (lang, markers)) =>
      df.withColumn(s"cnt_$lang",
        expr(s"count_in_set(ws, '${markers.mkString(",")}')")
          .cast(LongType))
    }
  }

  /** N-gram/marker-word language ID: hit-count per language's marker
    * list, argmax with a fixed precedence order for ties. (The fixture
    * corpus is synthetic English-ish text with random `lang` labels, so
    * accuracy against the label is meaningless — the operator contract
    * is the deterministic scoring itself.) */
  def t03LangId(spark: SparkSession, dir: String): DataFrame = {
    val scored = markerCounts(spark, docs(spark, dir))
    val Seq(en, es, de, fr, zh) =
      langMarkers.map { case (l, _) => col(s"cnt_$l") }
    scored
      .withColumn("predicted_lang",
        when(en >= es && en >= de && en >= fr && en >= zh, "en")
          .when(es >= de && es >= fr && es >= zh, "es")
          .when(de >= fr && de >= zh, "de")
          .when(fr >= zh, "fr")
          .otherwise("zh"))
      .select(col("doc_id"), col("cnt_en"), col("cnt_es"), col("cnt_de"),
        col("cnt_fr"), col("cnt_zh"), col("predicted_lang"),
        col("lang").as("labeled_lang"))
      .orderBy(col("doc_id"))
  }

  val t03Sql: String = {
    def cnt(markers: Seq[String]): String = {
      val list = markers.map(s => s"'$s'").mkString(", ")
      s"len(list_filter(string_split(text, ' '), w -> list_contains([$list], w)))"
    }
    val Seq(en, es, de, fr, zh) = langMarkers.map(m => cnt(m._2))
    s"""SELECT doc_id,
       | $en AS cnt_en, $es AS cnt_es, $de AS cnt_de,
       | $fr AS cnt_fr, $zh AS cnt_zh,
       | CASE
       |  WHEN $en >= $es AND $en >= $de AND $en >= $fr AND $en >= $zh THEN 'en'
       |  WHEN $es >= $de AND $es >= $fr AND $es >= $zh THEN 'es'
       |  WHEN $de >= $fr AND $de >= $zh THEN 'de'
       |  WHEN $fr >= $zh THEN 'fr'
       |  ELSE 'zh' END AS predicted_lang,
       | lang AS labeled_lang
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** t10: mixed-language (code-switching) detection — the confidence
    * gate behind any language-ID filter: a document whose second-best
    * language scores at least half of its best is not confidently
    * monolingual, and a pipeline routing docs per language should hold
    * it out rather than mislabel it. Reuses t03's marker-count core;
    * the top-2 extraction sorts the 5 integer counts (exact in any
    * engine), and the "mixed" rule is pure integer arithmetic. Narrow
    * per-doc map, scan-bound at any scale. */
  def t10MixedLang(spark: SparkSession, dir: String): DataFrame = {
    val scored = markerCounts(spark, docs(spark, dir))
      .withColumn("cnts",
        sort_array(array(langMarkers.map { case (l, _) =>
          col(s"cnt_$l") }: _*), asc = false))
    scored
      .select(col("doc_id"),
        element_at(col("cnts"), 1).as("top_cnt"),
        element_at(col("cnts"), 2).as("second_cnt"),
        langMarkers.map { case (l, _) => col(s"cnt_$l") }
          .reduce(_ + _).as("total_markers"))
      .withColumn("mixed",
        col("second_cnt") > 0 && col("second_cnt") * 2 >= col("top_cnt"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: the same marker counts (t03's list_filter form), top-2 via
    * an ascending list_sort (positions 5 and 4 of the 5-element list),
    * same integer mixed rule. */
  val t10Sql: String = {
    def cnt(markers: Seq[String]): String = {
      val list = markers.map(s => s"'$s'").mkString(", ")
      s"len(list_filter(string_split(text, ' '), w -> list_contains([$list], w)))"
    }
    val cs = langMarkers.map(m => cnt(m._2))
    s"""WITH c AS (
       |  SELECT doc_id, list_sort([${cs.mkString(", ")}]) AS l,
       |    ${cs.mkString(" + ")} AS total
       |  FROM documents
       |)
       |SELECT doc_id,
       |  CAST(l[5] AS BIGINT) AS top_cnt,
       |  CAST(l[4] AS BIGINT) AS second_cnt,
       |  CAST(total AS BIGINT) AS total_markers,
       |  l[4] > 0 AND l[4] * 2 >= l[5] AS mixed
       |FROM c ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // t04: document fingerprinting (rolling hash)
  // ---------------------------------------------------------------------

  /** Winnowing-style fingerprint: minimum 64-bit Karp-Rabin rolling hash
    * over 16-byte windows, via the codegen'd
    * [[graft.functions.RollingMinHash]] expression; grouping on the
    * fingerprint gives near-dup clusters robust to small suffix edits. */
  def t04Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "documents")
      .withColumn("fingerprint", expr("rolling_min_hash(text)"))
      .select(col("doc_id"), col("fingerprint"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** t04 oracle: the rolling 64-bit Karp-Rabin fingerprint re-expressed
    * in SQL. Wraparound `Long` arithmetic becomes HUGEINT mod 2^64 with
    * an explicit signed reinterpretation; each window hash is the
    * polynomial sum of its byte codes times B^j (the same closed form
    * the kernel's Horner/rolling updates compute); the min is taken over
    * the signed values, matching the kernel's `h < min`. Texts are ASCII
    * so `unicode(char)` equals the UTF-8 byte. Power constants are
    * generated from [[graft.functions.RollingMinHash]] so the two can
    * never drift. */
  /** The fingerprint computation as a reusable WITH-chain (`consts` +
    * `fp(doc_id, fingerprint, n_chars)`) — shared by t04's oracle and
    * p02's shard oracle so the SQL replica of the kernel cannot drift
    * between them. */
  private[llm] val fpWithCte: String = {
    // p[1] = B^15 ... p[16] = B^0, computed with Long wraparound (= mod 2^64)
    val powers = Iterator.iterate(1L)(_ * graft.functions.RollingMinHashKernel.Base)
      .take(16).toArray.reverse
    val plist = powers.map(p =>
      java.lang.Long.toUnsignedString(p) + "::HUGEINT").mkString("[", ",", "]")
    val two63 = "9223372036854775808::HUGEINT"
    val two64 = "18446744073709551616::HUGEINT"
    def u(sum: String) = s"($sum::HUGEINT % $two64)"
    val win = u("list_sum(list_transform(range(0, 16), " +
      "j -> unicode(text[i + j]) * p[j + 1]))")
    val whole = u("list_sum(list_transform(range(1, length(text) + 1), " +
      "j -> unicode(text[j]) * p[16 - length(text) + j]))")
    s"""WITH consts AS (SELECT $plist AS p),
       |fp AS (
       |  SELECT doc_id,
       |    CASE WHEN length(text) = 0 THEN 0
       |    WHEN length(text) < 16 THEN
       |      CAST((CASE WHEN $whole >= $two63
       |        THEN $whole - $two64 ELSE $whole END) AS BIGINT)
       |    ELSE
       |      list_min(list_transform(range(1, length(text) - 14), i ->
       |        CAST((CASE WHEN $win >= $two63
       |          THEN $win - $two64 ELSE $win END) AS BIGINT)))
       |    END AS fingerprint, n_chars
       |  FROM documents, consts
       |)""".stripMargin
  }

  val t04Sql: String = fpWithCte +
    "\nSELECT doc_id, fingerprint, n_chars FROM fp ORDER BY doc_id"

  /** TF-IDF top terms: term frequency per doc × a rational inverse
    * document frequency ((N+1)/(df+1) — no log, so the score stays
    * engine-exact), top-3 terms per document by score. The df side is an
    * inverted-index aggregation: one shuffle on the term, map-side
    * combine; the same shape scales to any corpus. */
  def t05TfIdf(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val terms = d.select(col("doc_id"), explode(col("ws")).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // corpus size as a broadcast 1-row frame, not a driver-side count():
    // the whole query stays one lazy plan (no eager job), and the scalar
    // rides a BroadcastExchange to every task
    val nDocs = d.select(count(lit(1)).cast(DoubleType).as("n_docs"))
    // tf is already distinct per (doc, term): df is a term-keyed window
    // count over it — the s10 lesson (a separate distinct+groupBy+join
    // pass re-explodes and re-shuffles the corpus, because Catalyst
    // can't share one aggregate between differently-pruned branches)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    tf.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("term"))))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf").cast(DoubleType) * ((col("n_docs") + 1.0) /
          (col("df").cast(DoubleType) + 1.0)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("rn"), col("term"), col("tf"), col("df"),
        col("score"))
      .orderBy(col("doc_id"), col("rn"))
  }

  val t05Sql: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2
      |), dfreq AS (
      |  SELECT term, COUNT(*) AS df FROM (
      |    SELECT DISTINCT doc_id, term FROM terms) GROUP BY term
      |), n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, term, tf, df,
      |    CAST(tf AS DOUBLE) * ((CAST(n_docs AS DOUBLE) + 1.0)
      |      / (CAST(df AS DOUBLE) + 1.0)) AS score,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id
      |      ORDER BY CAST(tf AS DOUBLE) * ((CAST(n_docs AS DOUBLE) + 1.0)
      |        / (CAST(df AS DOUBLE) + 1.0)) DESC, term) AS rn
      |  FROM tf JOIN dfreq USING (term) CROSS JOIN n
      |)
      |SELECT doc_id, CAST(rn AS INT) AS rn, term, tf, df, score
      |FROM scored WHERE rn <= 3
      |ORDER BY doc_id, rn""".stripMargin

  /** Corpus bigram document frequencies, top 20 (deterministic count
    * desc / bigram asc tiebreak) — the n-gram statistics a tokenizer/BPE
    * training pass starts from. Per-doc distinct bigrams via the
    * codegen'd [[graft.functions.WordShingles]] kernel (n=2), then one
    * count shuffle with map-side combine; at corpus scale this is the
    * standard inverted df aggregation, no driver state. */
  def t06Bigrams(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "documents")
      .select(explode(expr("word_shingles2(text)")).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("bigram"))
      .limit(20)
  }

  val t06Sql: String =
    """SELECT bigram, COUNT(*) AS df FROM (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, len(string_split(text, ' '))),
      |    i -> string_split(text, ' ')[i] || '_'
      |      || string_split(text, ' ')[i + 1]))) AS bigram
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2)
      |GROUP BY bigram ORDER BY df DESC, bigram LIMIT 20""".stripMargin

  /** t07: repetition signals — the Gopher-style repetition filters a
    * training-data pipeline runs after the cheap quality score:
    * duplicate-bigram fraction (1 − distinct/total word bigrams) and
    * top-token share (most frequent token's fraction of all tokens).
    * Highly repetitive machine-generated text spikes both. Per-doc
    * bigram stats are pure codegen'd column expressions (the
    * [[graft.functions.WordShingles]] kernel); the top-token count is
    * a (doc, term) aggregate with map-side combine — one shuffle,
    * scale-limited only by the token explode, same shape as t05's df
    * side. All ratios rational over exact integers → oracle-exact. */
  def t07Repetition(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val perDoc = d.select(col("doc_id"),
      size(col("ws")).cast(LongType).as("n_tokens"),
      greatest(size(col("ws")) - 1, lit(0)).cast(LongType).as("n_bigrams"),
      size(expr("word_shingles2(text)")).cast(LongType)
        .as("n_distinct_bigrams"))
    val topTok = d.select(col("doc_id"), explode(col("ws")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("max_tc"))
    perDoc.join(topTok, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("n_bigrams"),
        col("n_distinct_bigrams"),
        when(col("n_bigrams") > 0,
          lit(1.0) - col("n_distinct_bigrams").cast(DoubleType) /
            col("n_bigrams"))
          .otherwise(lit(0.0)).as("dup_bigram_ratio"),
        (col("max_tc").cast(DoubleType) / col("n_tokens"))
          .as("top_token_share"))
      .orderBy(col("doc_id"))
  }

  val t07Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents
      |), tc AS (
      |  SELECT doc_id, term, COUNT(*) AS c FROM tok GROUP BY 1, 2
      |), mx AS (
      |  SELECT doc_id, MAX(c) AS max_tc FROM tc GROUP BY doc_id
      |), base AS (
      |  SELECT doc_id,
      |    len(string_split(text, ' ')) AS n_tokens,
      |    GREATEST(len(string_split(text, ' ')) - 1, 0) AS n_bigrams,
      |    CASE WHEN len(string_split(text, ' ')) >= 2 THEN
      |      len(list_distinct(list_transform(
      |        range(1, len(string_split(text, ' '))),
      |        i -> string_split(text, ' ')[i] || '_'
      |          || string_split(text, ' ')[i + 1])))
      |    ELSE 0 END AS n_distinct_bigrams
      |  FROM documents
      |)
      |SELECT b.doc_id, b.n_tokens, b.n_bigrams, b.n_distinct_bigrams,
      |  CASE WHEN b.n_bigrams > 0
      |    THEN 1.0 - CAST(b.n_distinct_bigrams AS DOUBLE) / b.n_bigrams
      |    ELSE 0.0 END AS dup_bigram_ratio,
      |  CAST(mx.max_tc AS DOUBLE) / b.n_tokens AS top_token_share
      |FROM base b JOIN mx USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // t08: benchmark-contamination detection
  // ---------------------------------------------------------------------

  /** Contamination threshold: a training doc sharing ≥ half of its
    * 3-gram shingles with the benchmark set is flagged (the fixture's
    * synthetic text draws from a small vocabulary, so incidental
    * overlap is high — the median ratio is ~0.38 at sf0.1; 0.5 flags
    * the genuinely-overlapping tail up to the planted exact copies at
    * ratio 1.0). */
  val ContaminationRatio = 0.5

  /** t08: benchmark contamination — for every training document, the
    * fraction of its 3-gram shingles that also appear in a held-out
    * benchmark set (here the `src0` slice of the corpus stands in for
    * an eval benchmark). The decontamination step every serious
    * training-data pipeline runs before training: n-gram overlap is
    * the standard first-pass detector (exact-match variants are a
    * special case at ratio 1.0 with longer n).
    *
    * Shape: training postings equi-join the DISTINCT benchmark shingle
    * set, one groupBy per doc. Benchmarks are tiny next to a 100 TB
    * corpus, so the benchmark set broadcasts (or becomes a bloom
    * filter) — the corpus side streams through map-side, no corpus
    * self-join anywhere. */
  def t08Contamination(spark: SparkSession, dir: String): DataFrame =
    contaminationScores(Tables(spark, dir, "documents"))
      .withColumn("contaminated", col("ratio") >= ContaminationRatio)
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        col("ratio"), col("contaminated"))
      .orderBy(col("doc_id"))

  /** Frame-parameterized contamination core over any (doc_id, text,
    * source) relation: per shingleable non-benchmark document, its
    * shingle count, shared-with-benchmark count (zero if none) and
    * overlap ratio. ONE definition shared by t08 and p07's
    * decontamination stage, so the detector and the pipeline gate
    * cannot drift. */
  private[llm] def contaminationScores(docs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    // spread=false: this core feeds a broadcast-sized benchmark set +
    // one per-doc aggregate, and BOTH branches recompute the shingle
    // pass (the documented recompute-over-checkpoint trade) — the
    // parallelism floor doubled t08's wall (see shingledFrame scaladoc)
    val sh = Dedup.shingledFrame(docs, spread = false).join(src, "doc_id")
    val benchSet = sh.filter(col("source") === "src0")
      .select(explode(col("shingles")).as("sg")).distinct()
    val train = sh.filter(col("source") =!= "src0")
    val shared = train
      .select(col("doc_id"), explode(col("shingles")).as("sg"))
      .join(benchSet, "sg")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
    train
      .select(col("doc_id"), size(col("shingles")).cast(LongType).as("n_shingles"))
      .join(shared, Seq("doc_id"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("ratio",
        col("n_shared").cast(DoubleType) / col("n_shingles"))
  }

  /** Oracle: the shared shingle CTE's postings (`ex`) and sizes (`sz`),
    * same benchmark split, same ratio arithmetic. */
  val t08Sql: String = Dedup.shingleCteOver("documents", pairs = false) +
    s""",
       |bsh AS (
       |  SELECT DISTINCT e.sg FROM ex e
       |  JOIN documents d ON e.doc_id = d.doc_id WHERE d.source = 'src0'
       |),
       |shared AS (
       |  SELECT e.doc_id, COUNT(*) AS n_shared FROM ex e
       |  JOIN bsh USING (sg)
       |  JOIN documents d ON e.doc_id = d.doc_id
       |  WHERE d.source <> 'src0'
       |  GROUP BY e.doc_id
       |)
       |SELECT z.doc_id, CAST(z.n AS BIGINT) AS n_shingles,
       |  CAST(COALESCE(s.n_shared, 0) AS BIGINT) AS n_shared,
       |  CAST(COALESCE(s.n_shared, 0) AS DOUBLE) / z.n AS ratio,
       |  CAST(COALESCE(s.n_shared, 0) AS DOUBLE) / z.n
       |    >= ${ContaminationRatio} AS contaminated
       |FROM sz z
       |JOIN documents d ON z.doc_id = d.doc_id
       |LEFT JOIN shared s ON z.doc_id = s.doc_id
       |WHERE d.source <> 'src0'
       |ORDER BY z.doc_id""".stripMargin

  /** t09: unigram-surprisal quality proxy — rank documents by how rare
    * their tokens are under the corpus's OWN unigram model: the shape of
    * a perplexity filter (cf. CCNet, Wenzek et al., LREC'20), which a
    * training-data pipeline runs to drop gibberish (very rare tokens)
    * and boilerplate (very common ones). Per-token surprisal uses the
    * repo's rational-arithmetic convention: `N DIV c(token)` — the
    * integer floor of inverse unigram probability, monotone in
    * −log p(token), so the induced ranking matches a log-based filter
    * while staying engine-exact (`ln()` is not bit-reproducible across
    * engines; integer floor-div is).
    *
    * Plan at 100 TB: token explode → vocab count (one shuffle on the
    * token, map-side combine) → tokens⋈vocab equi-join (AQE splits the
    * stopword skew) → per-doc sum. The corpus token total rides a
    * broadcast 1-row frame like t05's n_docs — no driver-side count. */
  def t09Surprisal(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val toks = d.select(col("doc_id"), explode(col("ws")).as("token"))
    val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("c_t"))
    val total = vocab.agg(sum(col("c_t")).as("n_total"))
    toks.join(vocab, "token")
      .crossJoin(broadcast(total))
      .withColumn("inv", expr("n_total DIV c_t"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("inv")).as("rarity_sum"))
      .withColumn("rarity",
        col("rarity_sum").cast(DoubleType) / col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("rarity_sum"),
        col("rarity"))
      .orderBy(col("doc_id"))
  }

  /** t09 oracle: same tokenization as t05, same integer floor-div
    * surprisal, one final double division from identical operands. */
  val t09Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents
      |), vocab AS (
      |  SELECT token, COUNT(*) AS c_t FROM toks GROUP BY token
      |), tot AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n_total FROM vocab),
      |per AS (
      |  SELECT doc_id, COUNT(*) AS n_tokens,
      |    CAST(SUM(n_total // c_t) AS BIGINT) AS rarity_sum
      |  FROM toks JOIN vocab USING (token) CROSS JOIN tot
      |  GROUP BY doc_id
      |)
      |SELECT doc_id, n_tokens, rarity_sum,
      |  CAST(rarity_sum AS DOUBLE) / n_tokens AS rarity
      |FROM per ORDER BY doc_id""".stripMargin

  /** t13: corpus drift detection — for every source slice, the total-
    * variation distance between its unigram token distribution and the
    * rest of the corpus: TV = ½ Σ_t |p_s(t) − p_r(t)|. The monitor a
    * pipeline runs per crawl/source to catch a slice whose language
    * suddenly diverges (scraper broke, spam flood, domain shift).
    *
    * Exactness: the distance is computed as an INTEGER numerator
    * Σ_t |c_s(t)·N_r − c_r(t)·N_s| over common denominator N_s·N_r
    * (counts ≤ 10⁶, totals ≤ 10⁸ ⇒ products ≤ 10¹⁴, far inside BIGINT),
    * so both engines agree bit-for-bit; the one double division
    * num / (2·N_s·N_r) happens on identical operands. No logs — KL
    * would need ln(), which is not bit-reproducible across engines.
    *
    * Scale: one token-count shuffle on (source, token) with map-side
    * combine; everything after runs on the (sources × vocab) aggregate
    * — thousands of rows, never the corpus. */
  def t13CorpusDrift(spark: SparkSession, dir: String): DataFrame =
    corpusDrift(Tables(spark, dir, "documents"))

  /** Frame-parameterized drift core over any (source, text) relation. */
  private[graft] def corpusDrift(d: DataFrame): DataFrame = {
    val counts = d
      .select(col("source"),
        explode(split(col("text"), " ")).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val grand = totals.agg(sum(col("n")).as("n_all"))
    // per (source, token): this slice's count vs the rest-of-corpus
    // count (corpus-wide count minus the slice's own). Tokens ABSENT
    // from the slice never appear here — their mass (each contributes
    // exactly c_rest·N_s) is added in closed form after the aggregate:
    // Σ_absent c_rest = N_rest − Σ_present c_rest.
    val corpus = counts.groupBy(col("token")).agg(sum(col("c")).as("c_all"))
    counts.join(corpus, "token")
      .join(totals, "source")
      .crossJoin(broadcast(grand))
      .withColumn("c_rest", col("c_all") - col("c"))
      .withColumn("n_rest", col("n_all") - col("n"))
      .withColumn("term",
        abs(col("c") * col("n_rest") - col("c_rest") * col("n")))
      .groupBy(col("source"), col("n").as("n_slice"), col("n_rest"))
      .agg(sum(col("term")).as("num_present"),
        sum(col("c_rest")).as("rest_present"))
      .withColumn("tv_num", col("num_present") +
        (col("n_rest") - col("rest_present")) * col("n_slice"))
      .withColumn("tv",
        col("tv_num").cast(DoubleType) /
          (lit(2.0) * col("n_slice") * col("n_rest")))
      .select(col("source"), col("n_slice"), col("n_rest"),
        col("tv_num"), col("tv"))
      .orderBy(col("source"))
  }

  /** t13 oracle: same tokenization, same integer numerator, same final
    * division on identical operands.
    *
    * A token absent from a slice contributes |0·N_r − c_r·N_s| to that
    * slice's sum — both sides restrict the join to tokens present in
    * the slice and add the missing mass in the same closed form:
    * Σ_t∈s |c_s·N_r − c_r·N_s| + (N_r − Σ_t∈s c_r)·N_s. */
  val t13Sql: String =
    """WITH toks AS (
      |  SELECT d.source, unnest(string_split(d.text, ' ')) AS token
      |  FROM documents d
      |), counts AS (
      |  SELECT source, token, COUNT(*) AS c FROM toks GROUP BY 1, 2
      |), totals AS (
      |  SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM counts GROUP BY 1
      |), grand AS (SELECT CAST(SUM(n) AS BIGINT) AS n_all FROM totals),
      |corpus AS (
      |  SELECT token, CAST(SUM(c) AS BIGINT) AS c_all FROM counts GROUP BY 1
      |), present AS (
      |  SELECT k.source, t.n AS n_slice, (g.n_all - t.n) AS n_rest,
      |    SUM(ABS(k.c * (g.n_all - t.n) - (p.c_all - k.c) * t.n))
      |      AS num_present,
      |    SUM(p.c_all - k.c) AS rest_present
      |  FROM counts k JOIN corpus p USING (token)
      |  JOIN totals t USING (source) CROSS JOIN grand g
      |  GROUP BY 1, 2, 3
      |)
      |SELECT source, n_slice, n_rest,
      |  CAST(num_present + (n_rest - rest_present) * n_slice AS BIGINT)
      |    AS tv_num,
      |  CAST(num_present + (n_rest - rest_present) * n_slice AS BIGINT)
      |    / (2.0 * n_slice * n_rest) AS tv
      |FROM present ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // t16: bigram-LM fluency proxy
  // ---------------------------------------------------------------------

  /** t16: bigram language-model surprisal — the conditional upgrade of
    * [[t09Surprisal]]'s unigram rarity, i.e. the engine-exact stand-in
    * for perplexity filtering (CCNet/KenLM-style: score each document
    * under an n-gram LM trained on the corpus itself, flag the tails).
    * Per adjacent token pair (a,b): `p(b|a) = c₂(ab)/c₁(a·)` where
    * `c₁(a·)` counts `a` as a bigram HEAD (so the conditional sums to 1
    * per head); per-pair surprisal is the integer reciprocal
    * `surp_ppt = 1000·c₁ DIV c₂ ≥ 1000` (t09's floor-div convention —
    * monotone in −log p, no `ln`, BIGINT-exact in both engines; safe up
    * to 9·10¹⁵ corpus tokens). A fluent doc reuses corpus-frequent
    * transitions → mean near 1000; rare/garbled transitions blow up.
    *
    * Plan at 100 TB: ONE corpus scan explodes the pair stream; both LM
    * count tables ride window passes over that same stream
    * (`c₂ = count over (a,b)`, `c₁ = count over (a)` — the s10/t05
    * lesson: corpus-side joins back to corpus-side aggregates pay a
    * second scan that window passes avoid), then one doc-keyed
    * aggregate. No joins at all. */
  def t16BigramLm(spark: SparkSession, dir: String): DataFrame = {
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a"), col("b"))
    val w1 = org.apache.spark.sql.expressions.Window.partitionBy(col("a"))
    docsSpread(spark, dir)
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws)-1), i -> " +
          "struct(element_at(ws, i) as a, element_at(ws, i+1) as b))"))
        .as("pr"))
      .select(col("doc_id"), col("pr.a").as("a"), col("pr.b").as("b"))
      .withColumn("c2", count(lit(1)).over(w2))
      .withColumn("c1", count(lit(1)).over(w1))
      .withColumn("surp_ppt", expr("(1000 * c1) DIV c2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("surp_ppt")).as("surp_total"))
      .withColumn("mean_surp_ppt", expr("surp_total DIV n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"), col("surp_total"),
        col("mean_surp_ppt"))
      .orderBy(col("doc_id"))
  }

  /** t16 oracle: the same pair stream (1-based list indexing), the same
    * window counts and floor-div arithmetic. */
  val t16Sql: String =
    """WITH pairs AS (
      |  SELECT doc_id, ws[i] AS a, ws[i + 1] AS b
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
      |        FROM documents WHERE len(string_split(text, ' ')) >= 2),
      |    LATERAL (SELECT unnest(range(1, len(ws))) AS i)
      |), scored AS (
      |  SELECT doc_id,
      |    (1000 * COUNT(*) OVER (PARTITION BY a))
      |      // (COUNT(*) OVER (PARTITION BY a, b)) AS surp_ppt
      |  FROM pairs
      |)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  CAST(SUM(surp_ppt) AS BIGINT) AS surp_total,
      |  CAST(SUM(surp_ppt) AS BIGINT) // COUNT(*) AS mean_surp_ppt
      |FROM scored GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** t17: first-occurrence NOVELTY scoring — per document (reading the
    * corpus in doc_id order, i.e. crawl/ingest order), the fraction of
    * its distinct word-3-gram shingles that no earlier document
    * contains. This is the diminishing-returns curve behind crawl
    * scheduling and data-mixture decisions ("how much genuinely new
    * text does each successive batch add?" — the doc-level form of the
    * dedup-adjusted token counts corpus cards report): a novelty_ppm
    * near 10⁶ is fresh content, near 0 is re-crawled boilerplate.
    *
    * Plan: the d04-family distinct-shingle explode, ONE shingle-keyed
    * window pass pinning each shingle's first (minimum) doc_id — the
    * d15 lesson: no groupBy + join-back, the corpus-sized frame is
    * exchanged once — then one doc-keyed aggregate. At 100 TB both
    * exchanges scale with shingle volume; novelty against a STANDING
    * corpus (instead of intra-corpus order) is the same plan with the
    * index's min-doc frame unioned in (d10's posture). */
  def t17Novelty(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ex = Dedup.shingled(spark, dir)
      .select(col("doc_id"), explode(col("shingles")).as("sg"))
    val firstDoc = Window.partitionBy(col("sg"))
    ex.withColumn("first_doc", min(col("doc_id")).over(firstDoc))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_ppm", expr("(1000000L * n_novel) DIV n_shingles"))
      .orderBy(col("doc_id"))
  }

  /** t17 oracle: the shared shingle CTE (no pair block), first doc per
    * shingle as a grouped MIN, identical integer ppm. */
  val t17Sql: String = Dedup.shingleCteOver("documents", pairs = false) +
    """, fd AS (
      |  SELECT sg, MIN(doc_id) AS first_doc FROM ex GROUP BY sg
      |)
      |SELECT e.doc_id, COUNT(*) AS n_shingles,
      |  CAST(SUM(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_novel,
      |  (1000000 * CAST(SUM(CASE WHEN f.first_doc = e.doc_id THEN 1
      |    ELSE 0 END) AS BIGINT)) // COUNT(*) AS novelty_ppm
      |FROM ex e JOIN fd f USING (sg)
      |GROUP BY e.doc_id ORDER BY e.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // t18: quality-classifier distillation (rule labeler → token weights)
  // ---------------------------------------------------------------------

  /** t18: distill a rule labeler into a token-weight classifier — the
    * fastText-style move every training-data pipeline makes when the
    * real labeler (LLM judge, heavyweight heuristic stack) is too
    * expensive for the full corpus: label with the rule, learn
    * per-token weights from the labels, score everything with the
    * cheap model. The rule here is integer-exact (10 × stopword
    * occurrences ≥ token count — t02's stop-ratio arm without the
    * float); the "model" is each token's positive-occurrence rate in
    * 1e-6 units (a Bernoulli naive-Bayes posterior numerator, learned
    * by ONE token-grain aggregate); inference is one explode, one
    * broadcast weight lookup, one per-doc aggregate — all integer
    * arithmetic, so Spark and DuckDB agree bit-for-bit. The predicted
    * label compares a doc's occurrence-weighted mean against the
    * corpus-wide positive-occurrence prior (both DIV-truncated in 1e-6
    * units the same way in both engines). Occurrence (not distinct-
    * token) features are load-bearing on this fixture: docs are bags
    * over one small shared vocabulary, so distinct-token profiles are
    * near-identical while occurrence mixes carry the signal — the
    * LlmOpsSpec pins 100% recall at the prior threshold and strict
    * mean separation. At 100 TB the weight table is the only
    * broadcast (it scales with token TYPES, not tokens) and the
    * explode shuffle is the same shape t05/t07 already carry; the
    * labeled slice would be a sampled fraction, which changes only the
    * `labeled` frame's filter. */
  def t18QualityDistill(spark: SparkSession, dir: String): DataFrame = {
    val stopCsv = stopwords.mkString(",")
    val labeled = docs(spark, dir).select(col("doc_id"), col("ws"),
      (lit(10) * expr(s"count_in_set(ws, '$stopCsv')") >= size(col("ws")))
        .as("hi"))
    val tok = labeled.select(col("doc_id"), col("hi"),
      explode(col("ws")).as("w"))
    val vocab = tok.groupBy(col("w"))
      .agg(expr("(1000000 * count(CASE WHEN hi THEN 1 END)) DIV count(1)")
        .as("w_e6"))
    // NULLIF guards the GLOBAL aggregate: unlike the grouped vocab frame
    // (groups always carry >=1 row), an empty corpus yields count(1)=0
    // here and ANSI division throws. Today's green empty-input sweep only
    // survives because AQE's empty-relation propagation discards the
    // failing stage first — a plan-shape accident, not a guarantee.
    val prior = tok.agg(
      expr("(1000000 * count(CASE WHEN hi THEN 1 END)) DIV nullif(count(1), 0)")
        .as("p_e6"))
    val scores = tok.join(broadcast(vocab), "w")
      .groupBy(col("doc_id"))
      .agg(expr("sum(w_e6) DIV count(1)").as("avg_e6"),
        count(lit(1)).as("n_tok"))
    scores
      .join(labeled.select(col("doc_id"), col("hi")), "doc_id")
      .crossJoin(broadcast(prior))
      .select(col("doc_id"), col("avg_e6"), col("n_tok"),
        (col("avg_e6") > col("p_e6")).as("pred_hi"),
        col("hi").as("label_hi"))
      .orderBy(col("doc_id"))
  }

  val t18Sql: String = {
    val list = stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH labeled AS (
       |  SELECT doc_id, text,
       |    10 * len(list_filter(string_split(text, ' '),
       |      w -> list_contains([$list], w)))
       |      >= len(string_split(text, ' ')) AS hi
       |  FROM documents
       |), tok AS (
       |  SELECT doc_id, hi, unnest(string_split(text, ' ')) AS w
       |  FROM labeled
       |), vocab AS (
       |  SELECT w,
       |    (1000000 * COUNT(CASE WHEN hi THEN 1 END)) // COUNT(*) AS w_e6
       |  FROM tok GROUP BY w
       |), prior AS (
       |  SELECT (1000000 * COUNT(CASE WHEN hi THEN 1 END))
       |    // NULLIF(COUNT(*), 0) AS p_e6
       |  FROM tok
       |), scores AS (
       |  SELECT t.doc_id,
       |    CAST(SUM(v.w_e6) AS BIGINT) // COUNT(*) AS avg_e6,
       |    COUNT(*) AS n_tok
       |  FROM tok t JOIN vocab v ON v.w = t.w
       |  GROUP BY t.doc_id
       |)
       |SELECT s.doc_id, s.avg_e6, s.n_tok,
       |  s.avg_e6 > p.p_e6 AS pred_hi, l.hi AS label_hi
       |FROM scores s JOIN labeled l ON l.doc_id = s.doc_id
       |CROSS JOIN prior p
       |ORDER BY s.doc_id""".stripMargin
  }

  val registry: Seq[Query] = Seq(
    Query("t18_quality_distill", t18QualityDistill, Some(t18Sql)),
    Query("t17_novelty", t17Novelty, Some(t17Sql)),
    Query("t16_bigram_lm", t16BigramLm, Some(t16Sql)),
    Query("t09_surprisal", t09Surprisal, Some(t09Sql)),
    Query("t13_corpus_drift", t13CorpusDrift, Some(t13Sql)),
    Query("t10_mixed_lang", t10MixedLang, Some(t10Sql)),
    Query("t06_bigrams", t06Bigrams, Some(t06Sql)),
    Query("t07_repetition", t07Repetition, Some(t07Sql)),
    Query("t01_token_stats", t01TokenStats, Some(t01Sql)),
    Query("t02_quality_score", t02QualityScore, Some(t02Sql)),
    Query("t03_lang_id", t03LangId, Some(t03Sql)),
    Query("t04_fingerprint", t04Fingerprint, Some(t04Sql)),
    Query("t05_tfidf", t05TfIdf, Some(t05Sql)),
    Query("t08_contamination", t08Contamination, Some(t08Sql)),
  )
}
