package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Dedup, IndexDelete, IndexFamily, Multimodal, Similarity, TextStats}

class LlmOpsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("m11 training pairs: dispositions attributable, one pair per digest") {
    val rows = Multimodal.m11TrainingPairs(spark, sf).collect()
    assert(rows.nonEmpty)
    val byDisp = rows.groupBy(_.getAs[String]("disposition"))
    // all four gates discriminate on the fixture
    assert(byDisp.keySet == Set("corrupt_media", "rejected_quality",
      "dup_media", "paired"),
      s"dispositions seen: ${byDisp.keySet}")
    // integrity gate fires exactly on the m09 audit's corrupt set
    val m09bad = Multimodal.m09IntegrityAudit(spark, sf).collect()
      .filter(_.getAs[String]("status") == "corrupt")
      .map(_.getAs[Long]("doc_id")).toSet
    assert(byDisp("corrupt_media").map(_.getAs[Long]("doc_id")).toSet
      == m09bad)
    // exactly one paired representative per digest, and it is the min
    // ELIGIBLE doc of its group
    val paired = byDisp("paired")
      .map(r => r.getAs[String]("media_md5") -> r.getAs[Long]("doc_id"))
    assert(paired.map(_._1).distinct.length == paired.length)
    val eligible = rows.filter(r =>
      r.getAs[String]("disposition") == "paired" ||
        r.getAs[String]("disposition") == "dup_media")
      .groupBy(_.getAs[String]("media_md5"))
    paired.foreach { case (md5v, id) =>
      assert(id == eligible(md5v).map(_.getAs[Long]("doc_id")).min)
    }
    // every dup points at a digest that does have a paired representative
    val pairedDigests = paired.map(_._1).toSet
    byDisp("dup_media").foreach(r =>
      assert(pairedDigests.contains(r.getAs[String]("media_md5"))))
  }

  test("pq codebook stays dense on degenerate corpora (empty cluster keeps its seed)") {
    // The ADC family indexes LUTs as m*16 + code, so the trained
    // codebook MUST hold all 16 codes per subspace. Two corpus
    // classes used to violate that: (a) zero-padded dimensions — all
    // 16 seeds share the zero slice, the code-asc tie-break hands
    // every member to code 0 and codes 1..15 vanish; (b) corpora with
    // < 16 vectors — fewer seeds than codes. The Faiss posture (an
    // empty cluster keeps its seed; seed codes cycle over the corpus)
    // must keep the codebook dense and the full ADC chain runnable.
    import spark.implicits._
    def chain(vecs: Seq[(Long, Seq[Float])]) = {
      val v = vecs.toDF("vec_id", "embedding")
        .withColumn("norm", sqrt(expr("vec_dot(embedding, embedding)")))
        .filter(col("norm") > 0)
      val nv = Similarity.pqNvFrame(v)
      val sub = Similarity.pqSub(nv)
      val trained = Similarity.pqTrainCodebook(nv, sub).localCheckpoint()
      val codes = Similarity.pqEncode(sub, trained)
      val lut = Similarity.pqLut(sub.filter(col("vec_id") % 4 === 0), trained)
      val scored = codes.withColumnRenamed("vec_id", "neighbor_id")
        .join(broadcast(lut), col("query_id") =!= col("neighbor_id"))
        .withColumn("score", expr(Similarity.adcScoreExpr))
        .select("query_id", "neighbor_id", "score")
      val out = (trained.collect(), codes.collect(), scored.collect())
      Checkpoints.release(trained)
      out
    }
    val allCells =
      (for (m <- 0 until 8; c <- 0 until 16) yield (m, c)).toSet
    val rnd = new scala.util.Random(7)

    // (a) zero-padded: subspace m=7 identical (all-zero) across seeds
    val padded = (0L until 20L).map { i =>
      (i, Seq.fill(56)(rnd.nextFloat() - 0.5f) ++ Seq.fill(8)(0.0f))
    }
    val (cbA, codesA, scoredA) = chain(padded)
    assert(cbA.length == 128, s"padded codebook rows: ${cbA.length}")
    assert(cbA.map(r => (r.getAs[Int]("m"), r.getAs[Int]("code"))).toSet
      == allCells)
    // the zero subspace: every codeword (the one refined mean AND the
    // 15 kept seeds) is the zero slice
    cbA.filter(_.getAs[Int]("m") == 7).foreach(r =>
      assert(r.getAs[Seq[Double]]("cw").forall(_ == 0.0)))
    // every vector encoded, all pairs ADC-scored, no INVALID_ARRAY_INDEX
    assert(codesA.length == 20)
    assert(codesA.forall(_.getAs[Seq[Int]]("codes").length == 8))
    assert(scoredA.length == 5 * 19)
    assert(scoredA.forall(r => !r.isNullAt(r.fieldIndex("score"))))

    // (b) tiny corpus: 5 vectors < 16 codes — seed codes cycle
    val tiny = (0L until 5L).map { i =>
      (i, Seq.fill(64)(rnd.nextFloat() - 0.5f))
    }
    val (cbB, codesB, scoredB) = chain(tiny)
    assert(cbB.length == 128, s"tiny codebook rows: ${cbB.length}")
    assert(cbB.map(r => (r.getAs[Int]("m"), r.getAs[Int]("code"))).toSet
      == allCells)
    assert(codesB.length == 5)
    assert(scoredB.length == 2 * 4)
    // every assigned code is a valid dense-codebook position (a kept
    // duplicate seed is an exact match for its own vector, so codes
    // >= 5 are legitimately chosen — they exist and are indexable)
    assert(codesB.forall(_.getAs[Seq[Int]]("codes")
      .forall(c => c >= 0 && c < 16)))
  }

  test("d16 shared spans are verbatim, maximal, and the pair's longest") {
    val rows = Dedup.d16SharedSpanPairs(spark, sf).collect()
    assert(rows.nonEmpty, "fixture plants cross-doc shared passages")
    val text = Tables(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val (da, db) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      val len = r.getAs[Long]("span_len").toInt
      val (sa, sb) = (r.getAs[Long]("start_a").toInt,
        r.getAs[Long]("start_b").toInt)
      assert(len >= Dedup.DupSpanL)
      val (ta, tb) = (text(da), text(db))
      // the claimed span is VERBATIM shared
      assert(ta.substring(sa, sa + len) == tb.substring(sb, sb + len),
        s"span ($da,$db) at ($sa,$sb) len $len is not verbatim")
      // and maximal: extending one char either direction breaks it
      assert(sa == 0 || sb == 0 || ta(sa - 1) != tb(sb - 1),
        s"span ($da,$db) extends left")
      assert(sa + len == ta.length || sb + len == tb.length ||
        ta(sa + len) != tb(sb + len), s"span ($da,$db) extends right")
    }
    // exactly one row per pair (the longest span, deterministic pick)
    val pairs = rows.map(r =>
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.distinct.length == pairs.length)
  }

  test("d16 recovers randomly planted shared passages, exactly the planted pairs") {
    // generative differential check on the frame-parameterized core:
    // random base text (26-letter alphabet, 200-600 chars — an
    // accidental 24-char match has probability ~26^-24, impossible),
    // one passage of random length >= 24 planted into each of several
    // disjoint doc pairs, plus one passage planted into THREE docs.
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def letters(n: Int): String =
      Iterator.continually(('a' + rnd.nextInt(26)).toChar).take(n).mkString
    val nDocs = 20
    val base = Array.tabulate(nDocs)(_ => letters(200 + rnd.nextInt(400)))
    def plant(doc: Int, passage: String): Unit = {
      val at = rnd.nextInt(base(doc).length - 1) + 1
      base(doc) = base(doc).substring(0, at) + passage + base(doc).substring(at)
    }
    // pairs (0,1), (2,3), (4,5): independent passages
    val planted = (0 until 3).map { i =>
      val p = letters(Dedup.DupSpanL + rnd.nextInt(60))
      plant(2 * i, p); plant(2 * i + 1, p)
      ((2L * i, 2L * i + 1), p.length.toLong)
    }.toMap
    // docs 10, 11, 12 share one passage → three pairs
    val triple = letters(40)
    Seq(10, 11, 12).foreach(plant(_, triple))
    val docs = base.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toSeq.toDF("doc_id", "text")
    val rows = Dedup.sharedSpanPairsFrame(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        (r.getAs[Long]("span_len"), r.getAs[Long]("start_a"),
          r.getAs[Long]("start_b"))).toMap
    val expectedPairs = planted.keySet ++
      Set((10L, 11L), (10L, 12L), (11L, 12L))
    assert(rows.keySet == expectedPairs,
      s"pairs ${rows.keySet} != planted $expectedPairs")
    rows.foreach { case ((da, db), (len, sa, sb)) =>
      // the reported span is verbatim (and hence at least the plant;
      // random flanks can extend it only by matching chars)
      assert(base(da.toInt).substring(sa.toInt, (sa + len).toInt) ==
        base(db.toInt).substring(sb.toInt, (sb + len).toInt))
      val plantedLen = planted.getOrElse((da, db), 40L)
      assert(len >= plantedLen, s"($da,$db): span $len < planted $plantedLen")
      assert(len <= plantedLen + 8, // flank-extension slack, p(>8) ~ 26^-8
        s"($da,$db): span $len far exceeds planted $plantedLen")
    }
  }

  test("t17 novelty: first doc is all-novel, novel counts tie to the global distinct-shingle count") {
    val rows = TextStats.t17Novelty(spark, sf).collect()
    assert(rows.nonEmpty)
    // the earliest doc introduces every one of its shingles
    val first = rows.minBy(_.getAs[Long]("doc_id"))
    assert(first.getAs[Long]("novelty_ppm") == 1000000L)
    rows.foreach { r =>
      val (n, nov) = (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_novel"))
      assert(nov >= 0 && nov <= n)
      val ppm = r.getAs[Long]("novelty_ppm")
      assert(ppm == 1000000L * nov / n)
    }
    // every distinct shingle is novel in exactly one doc (its first)
    val totalNovel = rows.map(_.getAs[Long]("n_novel")).sum
    val distinctShingles = Tables(spark, sf, "documents")
      .select(explode(expr("word_shingles3(text)")).as("sg"))
      .distinct().count()
    assert(totalNovel == distinctShingles,
      s"sum(n_novel) $totalNovel != distinct shingles $distinctShingles")
    // the fixture's re-used boilerplate makes some docs non-novel
    assert(rows.exists(_.getAs[Long]("novelty_ppm") < 1000000L))
  }

  test("p17 effective corpus: accounting closes and ties to d15's spans") {
    val rows = llm.Pipeline.p17EffectiveCorpus(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (tot, dup, eff) = (r.getAs[Long]("total_chars"),
        r.getAs[Long]("dup_chars"), r.getAs[Long]("effective_chars"))
      assert(dup >= 0 && dup <= tot)
      assert(eff == tot - dup)
      assert(r.getAs[Long]("dup_ppm") == 1000000L * dup / tot)
    }
    // cross-op tie: summed dup_chars == the d15 span lengths summed
    val d15Total = Dedup.d15DupSpans(spark, sf)
      .agg(sum(col("span_len"))).collect()(0).getLong(0)
    assert(rows.map(_.getAs[Long]("dup_chars")).sum == d15Total)
    // and the whole-corpus totals reconcile with the raw table
    val rawTotal = Tables(spark, sf, "documents")
      .agg(sum(col("n_chars"))).collect()(0).getLong(0)
    assert(rows.map(_.getAs[Long]("total_chars")).sum == rawTotal)
  }

  test("m09/m11 ASCII precondition: fixture text is byte == char") {
    // m11's cross-engine equality leans on two fixture-shape facts:
    // Spark's n_bytes = length(blob) vs the oracle's n_chars, and
    // media_md5 over the binary blob vs DuckDB's md5 of the VARCHAR —
    // both hold iff the text is pure ASCII (n_chars == octet_length
    // and UTF-8 bytes == codepoints). Pin the assumption so a future
    // non-ASCII fixture fails HERE with a named cause, not as an
    // opaque oracle hash mismatch.
    val nonAscii = Tables(spark, sf, "documents")
      .filter(length(col("text")) =!= octet_length(col("text")) ||
        col("n_chars") =!= length(col("text")))
      .count()
    assert(nonAscii == 0,
      s"$nonAscii documents break the ASCII byte==char assumption " +
        "m09/m11 (and their oracles) rely on")
  }

  test("t16 bigram surprisal: pair counts tie to t01, floor bound holds") {
    val t16 = TextStats.t16BigramLm(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Long]("surp_total"),
          r.getAs[Long]("mean_surp_ppt"))).toMap
    val t01 = TextStats.t01TokenStats(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens")).toMap
    assert(t16.nonEmpty)
    t16.foreach { case (id, (nb, total, mean)) =>
      // every adjacent pair of the doc's tokens is scored exactly once
      assert(nb == t01(id) - 1, s"doc $id: $nb bigrams vs ${t01(id)} tokens")
      // p(b|a) <= 1 => every pair's surprisal >= 1000, so means too
      assert(mean >= 1000L && total >= 1000L * nb)
      assert(mean == total / nb)
    }
    // docs with >= 2 tokens are exactly the scored set
    assert(t16.keySet == t01.filter(_._2 >= 2).keySet)
  }

  test("g03 HITS equals a driver-side naive two-round computation") {
    val clicks = Tables(spark, sf, "events")
      .filter(col("event_type") === "click")
      .select("user_id", "props").collect()
      .flatMap { r =>
        val m = """"k": ([0-9]+)""".r.findFirstMatchIn(r.getAs[String]("props"))
        m.map(g => (r.getAs[Long]("user_id"), g.group(1).toLong))
      }.distinct.toSeq
    def renorm(raw: Map[Long, Long]): Map[Long, Long] = {
      val mx = raw.values.max
      raw.map { case (id, s) => id -> ((BigInt(s) * 1000000) / mx).toLong }
    }
    var hubs = clicks.map(_._1).distinct.map(_ -> 1000000L).toMap
    var auths = Map.empty[Long, Long]
    for (_ <- 1 to 2) {
      auths = renorm(clicks.groupBy(_._2).map { case (k, es) =>
        k -> es.map(e => hubs(e._1)).sum })
      hubs = renorm(clicks.groupBy(_._1).map { case (u, es) =>
        u -> es.map(e => auths(e._2)).sum })
    }
    val want = (hubs.toSeq.map { case (u, h) => ("user", u, h) } ++
      auths.toSeq.map { case (k, a) => ("item", k, a) })
      .sortBy { case (tpe, id, s) => (-s, tpe, id) }
    val got = graft.llm.Authority.g03Hits(spark, sf).collect()
      .map(r => (r.getAs[String]("node_type"), r.getAs[Long]("node_id"),
        r.getAs[Long]("score"))).toSeq
    assert(got.nonEmpty)
    assert(got == want)
    // max-normalization fixes the top of each scale at exactly 1e6
    assert(got.filter(_._1 == "user").map(_._3).max == 1000000L)
    assert(got.filter(_._1 == "item").map(_._3).max == 1000000L)
  }

  test("d03 minhash-lsh finds the planted near-duplicates") {
    val pairs = Dedup.d03MinHashLsh(spark, sf).collect()
    assert(pairs.length >= 20) // corpus has ~25 planted near-dup pairs
    pairs.foreach { r =>
      assert(r.getAs[Double]("jaccard") >= 0.8)
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
    }
  }

  test("d03 (LSH) pairs are a subset of d04 (exact) pairs") {
    def keys(rows: Array[Row]) =
      rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val lsh = keys(Dedup.d03MinHashLsh(spark, sf).collect())
    val exact = keys(Dedup.d04NgramJaccard(spark, sf).collect())
    assert(lsh.subsetOf(exact)) // 0.8-threshold pairs ⊆ 0.5-threshold pairs
  }

  test("d12 edit-distance pairs are a bounded subset of the d04 candidates") {
    def keys(rows: Array[Row]) =
      rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val ed = Dedup.d12EditDistance(spark, sf).collect()
    val cand = keys(Dedup.d04NgramJaccard(spark, sf).collect())
    assert(keys(ed).subsetOf(cand))
    assert(ed.nonEmpty)
    ed.foreach(r => assert(r.getAs[Long]("edit_dist") <= Dedup.MaxEditDistance))
  }

  test("d05 simhash pairs include the jaccard near-duplicates") {
    def keys(rows: Array[Row]) =
      rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val sim = keys(Dedup.d05SimHash(spark, sf).collect())
    val exact = keys(Dedup.d03MinHashLsh(spark, sf).collect())
    // simhash at radius 3 and jaccard >= 0.8 measure different
    // similarity: a few swapped words can flip 4+ simhash bits while
    // barely moving the shingle jaccard, so partial overlap is the
    // correct expectation (observed ~70% on the fixtures)
    assert(exact.intersect(sim).size >= exact.size * 6 / 10)
  }

  test("s01 brute-force top-k: k rows per query, descending cosine") {
    val rows = Similarity.s01BruteForceTopK(spark, sf).collect()
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.size == 500)
    byQuery.values.foreach { rs =>
      assert(rs.length == 10)
      val cos = rs.sortBy(_.getAs[Int]("rn")).map(_.getAs[Double]("cosine"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("s01 top-1 matches a driver-side exact computation for one query") {
    val vecs = Tables(spark, sf, "embeddings").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray)
      .toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val q0 = vecs(0L)
    val expected = vecs.filter(_._1 != 0L)
      .map { case (id, v) => id -> cos(q0, v) }
      .maxBy { case (id, c) => (c, -id) }
    val got = Similarity.s01BruteForceTopK(spark, sf)
      .filter(col("query_id") === 0 && col("rn") === 1)
      .collect().head
    assert(got.getAs[Long]("neighbor_id") === expected._1)
    assert(math.abs(got.getAs[Double]("cosine") - expected._2) < 1e-12)
  }

  test("s02 IVF recall vs brute force is reasonable at nprobe=3") {
    val exact = Similarity.s01BruteForceTopK(spark, sf)
      .filter(col("rn") === 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id"))
      .toMap
    val approx = Similarity.s02IvfTopK(spark, sf)
      .filter(col("rn") === 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id"))
      .toMap
    val hits = exact.count { case (q, n) => approx.get(q).contains(n) }
    // IVF with 16 cells / nprobe 3 on unclustered data: modest recall is
    // expected; anything above chance (~3/16) proves cell routing works.
    assert(hits.toDouble / exact.size > 0.3)
  }

  test("d11 semdedup: valid clusters, exact-verified members, cell recall") {
    val labels = llm.DupClusters.d11SemDedup(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster")).toMap
    assert(labels.nonEmpty)
    // cluster label = minimum member id, and the representative is a member
    labels.groupBy(_._2).foreach { case (c, members) =>
      assert(members.keys.min == c)
      assert(labels(c) == c)
    }
    // precision 1 by construction: every clustered vector took part in at
    // least one exact-verified within-cell edge, and every such edge is a
    // d06 pair at a stricter threshold (0.45 ≥ d06's 0.4)
    val d06 = Dedup.d06EmbeddingNearDup(spark, sf).collect()
      .map(r => ((r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")),
        r.getAs[Double]("cosine"))).toMap
    labels.keys.foreach { v =>
      assert(d06.keys.exists(p => p._1 == v || p._2 == v))
    }
    // recall against the exact pair set AT d11's own threshold: pairs
    // whose endpoints share a d11 cluster. The fixture is unclustered
    // gaussian noise — the worst case for cell co-location; chance
    // co-cell rate with 16 cells is ~1/16, so any sizable fraction
    // proves the cells route similar vectors together
    val exactAtTau = d06.collect {
      case (p, c) if c >= llm.DupClusters.SemDedupThreshold => p
    }.toSet
    assert(exactAtTau.nonEmpty)
    val recovered = exactAtTau.count { case (a, b) =>
      labels.get(a).exists(ca => labels.get(b).contains(ca))
    }
    assert(recovered.toDouble / exactAtTau.size > 0.15)
  }

  test("p05 mixture rebalance: every language lands near the smallest stratum") {
    val raw = Tables(spark, sf, "documents")
      .groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nMin = raw.values.min
    val sampled = llm.Pipeline.p05MixtureRebalance(spark, sf)
      .groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // every stratum survives, each down-sampled to ~the smallest one
    // (content-hash buckets are binomial around n_min; the fixture is
    // deterministic, observed spread 57-68 around n_min = 64)
    assert(sampled.keySet == raw.keySet)
    sampled.values.foreach { n =>
      assert(n >= nMin * 3 / 4 && n <= nMin * 5 / 4, s"$sampled vs min $nMin")
    }
    // the dominant stratum actually shrank (en is ~40-44% of the fixture
    // corpora; after rebalance it holds a ~1/K share like everyone else)
    assert(sampled("en") < raw("en") / 2)
  }

  test("p06 split: no near-dup pair straddles train/val; ratio is ~90/10") {
    val split = llm.Pipeline.p06LeakageSafeSplit(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    // the property the operator exists for: both endpoints of every
    // near-dup edge land on the same side
    val pairs = Dedup.d03MinHashLsh(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) => assert(split(a) == split(b)) }
    // 1-in-10 buckets go to val; hash buckets are binomial around 10%
    val nVal = split.values.count(_ == "val")
    assert(nVal > 0 && nVal < split.size / 4)
  }

  test("t09 surprisal matches a driver-side recompute, discriminative") {
    val texts = Tables(spark, sf, "documents").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val all = texts.values.toSeq.flatMap(_.split(" ", -1))
    val c = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = all.size.toLong
    val rows = llm.TextStats.t09Surprisal(spark, sf).collect()
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    val (id0, t0) = texts.head
    val toks = t0.split(" ", -1)
    assert(byId(id0).getAs[Long]("n_tokens") == toks.length)
    assert(byId(id0).getAs[Long]("rarity_sum") == toks.map(t => n / c(t)).sum)
    // every token satisfies c_t >= 1, so rarity >= 1; and the corpus's
    // token mix must actually separate documents
    val rarities = rows.map(_.getAs[Double]("rarity"))
    assert(rarities.min >= 1.0 && rarities.max > rarities.min)
  }

  test("t04 fingerprint is deterministic and discriminative") {
    val a = TextStats.t04Fingerprint(spark, sf).collect()
    val b = TextStats.t04Fingerprint(spark, sf).collect()
    assert(a.map(_.getAs[Long]("fingerprint")).sameElements(
      b.map(_.getAs[Long]("fingerprint"))))
    val distinct = a.map(_.getAs[Long]("fingerprint")).distinct.length
    assert(distinct > a.length / 2) // word-salad docs rarely collide
  }

  test("rolling hash: short strings use whole-string hash; equal in = equal out") {
    import graft.functions.TextHash
    val h1 = TextHash.rollingMin("abc".getBytes("UTF-8"))
    val h2 = TextHash.rollingMin("abc".getBytes("UTF-8"))
    val h3 = TextHash.rollingMin("abd".getBytes("UTF-8"))
    assert(h1 == h2 && h1 != h3)
    // window=16: a shared 32-byte prefix must yield the same windows at
    // the start; min can only decrease with more text
    val base = "0123456789abcdef0123456789abcdef"
    val hBase = TextHash.rollingMin(base.getBytes("UTF-8"))
    val hExt = TextHash.rollingMin((base + "zzz").getBytes("UTF-8"))
    assert(hExt <= hBase)
  }

  test("m02 media features: checksum matches a local recompute") {
    val feats = Multimodal.m02MediaFeatures(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("checksum")).toMap
    val texts = Tables(spark, sf, "documents").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    texts.take(20).foreach { case (id, text) =>
      val crc = new java.util.zip.CRC32()
      crc.update(text.getBytes("UTF-8"))
      assert(feats(id) === crc.getValue, s"doc $id")
    }
  }

  test("m15 real PNG codec: wire bytes are genuine PNGs, decoded features match the padded payload") {
    // the features must equal a local recompute over the text bytes
    // capped at 4096 and zero-padded to the 64×64 frame — PNG is
    // lossless, so the decode leg reproduces the payload exactly
    val feats = Multimodal.m15PngFeatures(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_bytes"), r.getAs[Long]("checksum"),
          r.getAs[Int]("width"), r.getAs[Int]("height"))).toMap
    val texts = Tables(spark, sf, "documents").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(feats.size == texts.size)
    texts.take(20).foreach { case (id, text) =>
      val padded = new Array[Byte](4096)
      val bytes = text.getBytes("UTF-8")
      System.arraycopy(bytes, 0, padded, 0, math.min(bytes.length, 4096))
      val crc = new java.util.zip.CRC32()
      crc.update(padded)
      assert(feats(id) === ((4096, crc.getValue, 64, 64)), s"doc $id")
    }
    // and the intermediate really is PNG: encode one payload exactly as
    // the kernel does and check the 8-byte signature + ImageIO parse
    val one = texts.head._2.getBytes("UTF-8")
    val img = new java.awt.image.BufferedImage(
      64, 64, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    (0 until 4096).foreach { i =>
      img.getRaster.setSample(i % 64, i / 64, 0,
        if (i < one.length) one(i) & 0xff else 0)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    assert(png.take(8).sameElements(Array[Byte](0x89.toByte, 'P', 'N',
      'G', '\r', '\n', 0x1a, '\n')), "not a PNG signature")
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(png))
    assert(back.getWidth == 64 && back.getHeight == 64)
    assert((0 until 4096).forall(i =>
      back.getRaster.getSample(i % 64, i / 64, 0) ==
        (if (i < one.length) one(i) & 0xff else 0)),
      "PNG round-trip not lossless")
  }

  test("m04 resize: true box-filter downsample of the payload grid") {
    val rows = Multimodal.m04Resize(spark, sf).collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      // container = 15-byte GRFT header + 32·32 single-byte pixels,
      // dims re-parsed from the emitted header bytes
      assert(r.getAs[Int]("blob_len") === 32 * 32 + 15)
      assert(r.getAs[Int]("width") === 32 && r.getAs[Int]("height") === 32)
    }
    // differential check on one doc: re-derive the 2×2 box means from
    // the raw text bytes (grid top-left, 0 elsewhere) and match the
    // emitted payload's sum — every output pixel participates
    val doc = Tables(spark, sf, "documents")
      .filter(col("doc_id") === 0).select("text").collect()(0).getString(0)
    val src = doc.getBytes("UTF-8")
    def pix(i: Int): Int = if (i < src.length) src(i) & 0xff else 0
    val expectSum = (for { i <- 0 until 32; j <- 0 until 32 } yield
      (pix((2 * i) * 64 + 2 * j) + pix((2 * i) * 64 + 2 * j + 1) +
        pix((2 * i + 1) * 64 + 2 * j) + pix((2 * i + 1) * 64 + 2 * j + 1)) / 4
      ).map(_.toLong).sum
    val got = rows.find(_.getAs[Long]("doc_id") == 0L).get
    assert(got.getAs[Long]("payload_sum") === expectSum)
  }

  test("GRFT container: encode/decode round-trips; corrupt input fails loudly") {
    val meta = Multimodal.MediaMeta("application/octet-stream", 640, 480, 12)
    val payload = "the quick brown fox".getBytes("UTF-8")
    val blob = Multimodal.encodeContainer(meta, payload)
    assert(blob.length === payload.length + 15)
    val d = Multimodal.decodeContainer(blob)
    // dims/frames come back from the HEADER BYTES, payload bit-exact
    assert((d.width, d.height, d.nFrames) === ((640, 480, 12)))
    assert(d.payload.toSeq === payload.toSeq)
    // a parser that accepts garbage yields silent garbage features —
    // all three header checks must throw
    intercept[IllegalArgumentException] {
      Multimodal.decodeContainer("too short".getBytes("UTF-8"))
    }
    intercept[IllegalArgumentException] {
      val bad = blob.clone(); bad(0) = 'X'.toByte // magic
      Multimodal.decodeContainer(bad)
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodeContainer(blob.dropRight(1)) // truncated payload
    }
  }

  test("m03 frame sampling: row count = ceil(nFrames / stride) per doc") {
    val media = Multimodal.packAsMedia(spark, sf).collect()
      .map(m => m.doc_id -> m.meta.nFrames).toMap
    val frames = Multimodal.m03FrameSample(spark, sf).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    media.foreach { case (id, n) =>
      assert(frames(id).length === (n + 3) / 4, s"doc $id nFrames=$n")
    }
  }

  test("d08 ppjoin equals the exact 0.8-threshold pair set (= d03)") {
    def keys(rows: Array[Row]) =
      rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard"))).toSet
    val pp = keys(Dedup.d08PpJoin(spark, sf).collect())
    val lsh = keys(Dedup.d03MinHashLsh(spark, sf).collect())
    assert(pp === lsh) // prefix filter is lossless; LSH verified-exact here
  }

  test("t06 bigram dfs are positive, non-increasing, tie-broken") {
    val rows = TextStats.t06Bigrams(spark, sf).collect()
    assert(rows.length === 20)
    val dfs = rows.map(_.getAs[Long]("df"))
    assert(dfs.forall(_ >= 1))
    assert(dfs.sameElements(dfs.sortBy(-_)))
    rows.sliding(2).foreach { case Array(a, b) =>
      if (a.getAs[Long]("df") == b.getAs[Long]("df"))
        assert(a.getAs[String]("bigram") < b.getAs[String]("bigram"))
    }
  }

  test("d03 hot LSH bucket emits a linear star, and CC still collapses it") {
    import spark.implicits._
    // a boilerplate mega-cluster: n identical documents land in the SAME
    // bucket of every band — the clique join would surface n(n-1)/2
    // candidate pairs (44 850 here); the hot-bucket star must keep it at
    // n-1, anchored at the representative
    val n = 300
    val boiler = "terms of service all rights reserved contact us about " +
      "privacy policy cookie settings copyright"
    val mega = (0L until n.toLong).map(i => (i, boiler))
    val unique = (1000L until 1040L).map(i =>
      (i, s"unique document $i with tokens u${i}a u${i}b u${i}c u${i}d"))
    val docs = (mega ++ unique).toDF("doc_id", "text")
    val pairs = Dedup.minHashPairs(docs, threshold = 0.8).collect()
    assert(pairs.length === n - 1,
      s"expected a ${n - 1}-edge star, got ${pairs.length} pairs")
    pairs.foreach { r =>
      assert(r.getAs[Long]("doc_a") === 0L) // every edge hits the rep
      assert(r.getAs[Double]("jaccard") === 1.0)
    }
    // the CC consumer sees the same single cluster the clique would give
    val clusters = llm.DupClusters.connectedComponents(
      Dedup.minHashPairs(docs, threshold = 0.8)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.size === n)
    (0L until n.toLong).foreach(i => assert(clusters(i) === 0L))
  }

  test("d03 buckets at or under the cap keep the exact clique join") {
    import spark.implicits._
    // 3 identical docs (bucket size 3 <= cap): all 3 pairs must appear,
    // not just the 2 star edges — the cap must not degrade small buckets
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon zeta"),
      (9L, "unrelated text about something else entirely different")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minHashPairs(docs, threshold = 0.8).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("p01 pipeline: unique contents, all above the quality gate") {
    val out = llm.Pipeline.p01DedupPipeline(spark, sf).collect()
    assert(out.nonEmpty && out.length < 500) // something was cleaned
    // exact dedup held: every surviving content digest is unique
    val digests = out.map(_.getAs[String]("content_md5"))
    assert(digests.distinct.length === digests.length)
    // quality gate held: every survivor scores >= the threshold
    val ids = out.map(_.getAs[Long]("doc_id")).toSet
    val scored = TextStats.t02QualityScore(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality")).toMap
    ids.foreach { id =>
      assert(scored(id) >= llm.Pipeline.QualityThreshold, s"doc $id")
    }
    // near-dup removal held: no surviving pair at jaccard >= 0.8
    // (survivor set rebuilt from the ids already collected — re-running
    // the pipeline frame would re-execute its eager CC/checkpoint jobs)
    val survivors = Tables(spark, sf, "documents")
      .filter(col("doc_id").isin(ids.toSeq: _*))
    val pairs = Dedup.minHashPairs(survivors, threshold = 0.8).collect()
    assert(pairs.isEmpty)
  }

  test("p07 core: decontamination, quality, exact + near dedup compose") {
    import spark.implicits._
    // four disjoint 40-token vocabularies of letter-only tokens (no
    // digits = no junk penalty, none collide with the stopword list),
    // 40 words => len_factor 0.4 => quality 0.4 >= the 0.3 gate
    def vocab(p: Char): IndexedSeq[String] =
      (0 until 40).map(i =>
        s"$p${('a' + i / 26).toChar}${('a' + i % 26).toChar}")
    val v = vocab('v'); val w = vocab('w'); val u = vocab('u')
    val z = vocab('z')
    val benchText = v.mkString(" ")
    // 25 of 40 tokens shared with the benchmark prefix => 23 of its 38
    // trigram shingles shared => ratio 0.605 >= 0.5 (contaminated)
    val halfText = (v.take(25) ++ w.take(15)).mkString(" ")
    val nearA = u.mkString(" ")                      // 38 shingles
    val nearB = (u.take(39) :+ "vox").mkString(" ")  // J = 37/39 = 0.949
    val dupText = z.mkString(" ")
    val docs = Seq(
      (1L, benchText, "en", "src0", benchText.length.toLong), // benchmark
      (2L, benchText, "en", "web", benchText.length.toLong),  // exact copy of bench -> contaminated
      (3L, halfText, "en", "web", halfText.length.toLong),    // 0.605 overlap -> contaminated
      (4L, w.mkString(" "), "en", "web", w.mkString(" ").length.toLong), // clean
      (5L, nearA, "en", "web", nearA.length.toLong),           // near-dup pair:
      (6L, nearB, "en", "web", nearB.length.toLong),           //   6 dropped, 5 kept
      (7L, dupText, "en", "web", dupText.length.toLong),       // exact-dup pair:
      (8L, dupText, "en", "web", dupText.length.toLong)        //   8 dropped, 7 kept
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = llm.Pipeline.prepareCorpus(docs).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(4L, 5L, 7L))
    out.foreach(r => assert(r.getAs[String]("lang") == "en"))
  }

  test("m07 chunks tile each blob exactly: lengths sum, indexes dense") {
    val perDoc = llm.Multimodal.m07BlobChunks(spark, sf)
      .groupBy(col("doc_id"))
      .agg(sum(col("chunk_len")).as("bytes"),
        count(org.apache.spark.sql.functions.lit(1)).as("k"),
        max(col("chunk_idx")).as("mx"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("bytes"), r.getAs[Long]("k"), r.getAs[Long]("mx")))
      .toMap
    val sizes = Tables(spark, sf, "documents")
      .select(col("doc_id"), octet_length(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getAs[Number]("n").longValue())
      .toMap
    assert(perDoc.keySet == sizes.filter(_._2 > 0).keySet)
    perDoc.foreach { case (id, (bytes, k, mx)) =>
      val n = sizes(id)
      assert(bytes == n, s"doc $id: chunk lengths sum $bytes != $n")
      assert(k == (n + 63) / 64, s"doc $id: chunk count")
      assert(mx == k - 1, s"doc $id: indexes not dense 0..k-1")
    }
  }

  test("m09 flags exactly the planted corruption, localized to chunk 0") {
    val rows = llm.Multimodal.m09IntegrityAudit(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      if (id % 7 == 3) {
        assert(r.getAs[String]("status") == "corrupt", s"doc $id")
        // a single flipped byte must damage exactly one chunk: the first
        assert(r.getAs[Long]("n_bad") == 1L, s"doc $id")
        assert(r.getAs[Long]("first_bad_chunk") == 0L, s"doc $id")
      } else {
        assert(r.getAs[String]("status") == "ok", s"doc $id")
        assert(r.getAs[Long]("n_bad") == 0L, s"doc $id")
        assert(r.getAs[Long]("first_bad_chunk") == -1L, s"doc $id")
      }
    }
  }

  test("m10 recovers exact-duplicate media and never pairs below 2 shared frames") {
    val pairs = llm.Multimodal.m10SharedFrameDups(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) => assert(a < b) }
    // identical texts share every frame -> any exact-dup pair long
    // enough for >= 2 frames must surface as an m10 pair
    val exactDups = Tables(spark, sf, "documents")
      .filter(col("n_chars") > 16)
      .groupBy(col("text")).agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1).collect()
      .flatMap { r =>
        val ids = r.getAs[Seq[Long]]("ids").sorted
        for (i <- ids.indices; j <- i + 1 until ids.length) yield (ids(i), ids(j))
      }.toSet
    assert(exactDups.subsetOf(pairs))
  }

  test("p12 packs tile the corpus: token and doc totals preserved, packs non-empty") {
    val packs = llm.Pipeline.p12ShardPacking(spark, sf).collect()
    val docs = Tables(spark, sf, "documents")
      .select(size(split(col("text"), " ")).cast("long").as("n")).collect()
    assert(packs.map(_.getAs[Long]("pack_tokens")).sum == docs.map(_.getLong(0)).sum)
    assert(packs.map(_.getAs[Long]("n_docs")).sum == docs.length.toLong)
    packs.foreach { r =>
      assert(r.getAs[Long]("n_docs") >= 1L)
      assert(r.getAs[Long]("pack_tokens") >= 1L)
    }
  }

  test("p11 snapshot diff statuses match the planted snapshot-B rules") {
    val rows = llm.Pipeline.p11SnapshotDiff(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status"))
    val byStatus = rows.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val all = Tables(spark, sf, "documents")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(byStatus("removed") == all.filter(_ % 10 == 0))
    assert(byStatus("changed") == all.filter(id => id % 7 == 0 && id % 10 != 0))
    assert(byStatus("added") == all.filter(_ % 13 == 0).map(_ + 10000000L))
    // statuses are disjoint and cover every diff row
    assert(rows.length ==
      byStatus.values.map(_.size).sum)
  }

  test("s09 PQ top-k: 10 neighbors per query, ADC scores descending") {
    val rows = Similarity.s09PqTopK(spark, sf).collect()
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Int]("rn")).sorted.toSeq == (1 to 10),
        s"query $q rankings")
      val scores = rs.sortBy(_.getAs[Int]("rn")).map(_.getAs[Long]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"query $q scores not descending")
      rs.foreach(r => assert(r.getAs[Long]("neighbor_id") != q))
    }
    // the query stratum is vec_id % 4 == 0 over nonzero-norm vectors
    assert(byQ.keySet.forall(_ % 4 == 0))
  }

  test("s19 PQ re-rank: exact stage visibly reorders the ADC pool, ADC order matches s09") {
    val rows = Similarity.s19PqRerank(spark, sf).collect()
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Int]("rn")).sorted.toSeq == (1 to 10),
        s"query $q rankings")
      val byRn = rs.sortBy(_.getAs[Int]("rn"))
      val scores = byRn.map(_.getAs[Long]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"query $q exact scores not descending")
      rs.foreach { r =>
        assert(r.getAs[Long]("neighbor_id") != q)
        val ar = r.getAs[Int]("adc_rank")
        assert(ar >= 1 && ar <= Similarity.RerankPool, s"query $q adc_rank $ar")
      }
      // pool positions are distinct — each survivor kept its own coarse rank
      assert(rs.map(_.getAs[Int]("adc_rank")).distinct.length == rs.length)
    }
    assert(byQ.keySet.forall(_ % 4 == 0))
    // the two stages are genuinely different orders: the refine stage
    // must pull at least one candidate ADC ranked OUTSIDE its top-10
    // into the final 10 (1176/1250 rows reorder at sf0.001 — the
    // isotropic fixture makes 8-byte ADC coarse, which is exactly what
    // the exact stage is for)
    assert(rows.exists(_.getAs[Int]("adc_rank") > 10),
      "refine stage never promoted a candidate past ADC's own top-10")
    // shared-chain consistency: where a neighbor appears in BOTH s09
    // (pure ADC top-10) and s19, its adc_rank here IS its s09 rank —
    // pins that the pool really is s09's scoring, not a re-derivation
    val s09rank = Similarity.s09PqTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Int]("rn")).toMap
    val overlap = rows.flatMap { r =>
      val k = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      s09rank.get(k).map(adc => (k, adc, r.getAs[Int]("adc_rank")))
    }
    assert(overlap.nonEmpty)
    overlap.foreach { case (k, adc, ar) =>
      assert(adc == ar, s"pair $k: s09 rn $adc vs s19 adc_rank $ar")
    }
  }

  test("s11 MaxSim exact-stage scores match a brute-force replay") {
    import SparkTestSession.spark.implicits._
    val got = Similarity.s11MaxSimTopK(spark, sf).collect()
    val byQ = got.groupBy(_.getAs[Long]("query_doc"))
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Int]("rn")).sorted.toSeq == (1 to 5))
      val scores = rs.sortBy(_.getAs[Int]("rn")).map(_.getAs[Long]("maxsim"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      rs.foreach(r => assert(r.getAs[Long]("neighbor_doc") != q))
    }
    // brute-force MaxSim for query doc 0 over EVERY doc (no coarse
    // pruning): the pairs s11 reports for doc 0 must carry exactly the
    // brute-force score — validates the token-max/sum arithmetic
    // independently of candidate selection
    val nv = Tables(spark, sf, "embeddings")
      .withColumn("norm", sqrt(expr("vec_dot(embedding, embedding)")))
      .filter(col("norm") > 0)
      .withColumn("nv",
        expr("transform(embedding, x -> CAST(x AS DOUBLE) / norm)"))
      .select(expr("vec_id div 8").as("did"), col("nv"))
    val brute = nv.filter(col("did") === 0).select(col("nv").as("qnv"))
      .crossJoin(nv.filter(col("did") =!= 0)
        .select(col("did").as("cdid"), col("nv").as("cnv")))
      .withColumn("dot",
        floor(expr("vec_dot(qnv, cnv)") * lit(1048576.0)).cast("long"))
      .groupBy(col("cdid"), col("qnv"))
      .agg(max(col("dot")).as("md"))
      .groupBy(col("cdid")).agg(sum(col("md")).as("maxsim"))
      .as[(Long, Long)].collect().toMap
    byQ(0L).foreach { r =>
      assert(r.getAs[Long]("maxsim") ==
        brute(r.getAs[Long]("neighbor_doc")),
        s"doc-0 pair ${r.getAs[Long]("neighbor_doc")}")
    }
  }

  test("s20 IVF-PQ: cell pruning bounds the ADC scan, refine visibly reorders") {
    val rows = Similarity.s20IvfPqSearch(spark, sf).collect()
    val n = Tables(spark, sf, "embeddings").count()
    val q = Tables(spark, sf, "embeddings")
      .filter(col("vec_id") % 4 === 0).count()
    // every query answers a full top-10 page
    val perQuery = rows.groupBy(_.getLong(0)).view.mapValues(_.length)
    assert(perQuery.size == q, s"${perQuery.size} queries of $q")
    assert(perQuery.values.forall(_ == 10))
    // rn ascends with strictly non-increasing exact scores per query
    rows.groupBy(_.getLong(0)).values.foreach { rs =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getLong(3)).sliding(2).forall(
        p => p.length < 2 || p(0) >= p(1)))
    }
    // the refine stage must be observable: some candidate promoted
    // above its coarse ADC position (rn < adc_rank somewhere)
    assert(rows.exists(r => r.getInt(1) < r.getInt(4)),
      "exact re-rank never reordered the ADC pool — refine is dead code")
    // and the cell restriction REALLY prunes the scoring space: the
    // candidate set (probed-cell members) must be well under half of
    // the full n·q pair space s09 scans (3/16 of assignments ≈ 0.19)
    val ranked = Similarity.ivfRanked(spark, sf)
    val cand = ranked.filter(col("cell_rank") <= 3 && col("vec_id") % 4 === 0)
      .select(col("cell"), col("vec_id").as("query_id"))
      .join(Similarity.ivfInvertedLists(spark, sf)
        .select(col("cell"), col("vec_id").as("neighbor_id")), "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct().count()
    assert(cand < n * q / 2,
      s"cell pruning scans $cand of ${n * q} pairs — not pruning")
  }

  test("s23 recall audit: hits == |served ∩ exact truth|, recall is real") {
    val rows = Similarity.s23RecallAudit(spark, sf).collect()
    // independent ground truth, computed entirely in Scala from the raw
    // parquet floats (same op order as the chain: cast-to-double norm,
    // index-order dot, floor at 2^20) — no shared Spark expressions
    val raw = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val normed = raw.flatMap { case (id, e) =>
      var ss = 0.0
      e.foreach { x => val d = x.toDouble; ss += d * d }
      val norm = math.sqrt(ss)
      if (norm > 0) Some(id -> e.map(_.toDouble / norm)) else None
    }.toMap
    val qids = normed.keys.filter(_ % 4 == 0).toSeq.sorted
    def truth10(qid: Long): Set[Long] = {
      val qv = normed(qid)
      normed.iterator.filter(_._1 != qid).map { case (cid, cv) =>
        var dot = 0.0
        var i = 0
        while (i < qv.length) { dot += qv(i) * cv(i); i += 1 }
        (math.floor(dot * 1048576.0).toLong, cid)
      }.toSeq.sortBy { case (s, cid) => (-s, cid) }
        .take(10).map(_._2).toSet
    }
    val served = Similarity.s20IvfPqSearch(spark, sf).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(2)).toSet).toMap
    // one audit row per query, hits bounded, and each hits value IS the
    // size of the served∩truth intersection
    assert(rows.length == qids.length)
    rows.foreach { r =>
      val qid = r.getLong(0)
      val h = r.getInt(1)
      assert(h >= 0 && h <= 10)
      assert(h == (truth10(qid) & served.getOrElse(qid, Set.empty)).size,
        s"query $qid: audit says $h hits")
    }
    // the audit measures a real index: better than the ~10/n random
    // floor in aggregate, yet visibly approximate (this is the number
    // that decides nprobe/codebook sizing — it must not be trivially
    // 0 or trivially perfect on the fixture)
    val total = rows.map(_.getInt(1)).sum
    assert(total > qids.length, s"mean recall@10 <= 0.1 ($total hits)")
    assert(rows.exists(_.getInt(1) < 10),
      "recall 100% everywhere — the audit cannot be observing IVF-PQ loss")
  }

  /** Exact top-10 neighbor sets for the `%4` query set (s01's
    * brute-force list) — the shared truth of the s28/s29 recall A/Bs. */
  private lazy val exactTruth10: Map[Long, Set[Long]] =
    Similarity.s01BruteForceTopK(spark, sf).collect()
      .filter(_.getAs[Long]("query_id") % 4 == 0)
      .groupBy(_.getAs[Long]("query_id")).view
      .mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap

  /** Total served∩truth hits for a served (query_id, rn, neighbor_id,
    * …) result. */
  private def recallHits(served: Array[Row]): Int = served
    .groupBy(_.getLong(0)).toSeq.map { case (q, rs) =>
      (exactTruth10.getOrElse(q, Set.empty) & rs.map(_.getLong(2)).toSet).size
    }.sum

  test("s28 residual ADC: contract, build-once, recall vs raw-vector ADC") {
    val rows = Similarity.s28ResidualPqSearch(spark, sf).collect()
    assert(rows.nonEmpty)
    // contract: rn contiguous from 1 per query, adc_rank inside the pool
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.map(_.getInt(1)).sorted.sameElements(1 to rs.length),
        s"query $q rn gap")
      rs.foreach { r =>
        val ar = r.getInt(4)
        assert(ar >= 1 && ar <= Similarity.RerankPool, s"query $q adc_rank $ar")
      }
    }
    // build-once: a fresh first-toucher (path cache forgotten = the next
    // serving JVM) reuses the stored residual codebook + codes
    Similarity.resPqIndex.forget()
    val b0 = Similarity.resPqIndex.builds.get()
    Similarity.s28ResidualPqSearch(spark, sf).collect()
    assert(Similarity.resPqIndex.builds.get() == b0,
      "a matching fingerprint must reuse the stored residual-PQ index")
    // recall@10 against exact truth (s01's brute-force list), residual
    // codes vs the raw-vector twin s20 on the same probes/pool/refine.
    // The A/B is corpus-dependent BY DESIGN: residual coding wins when
    // vectors cluster around their centroids (it spends the 16 codewords
    // on a smaller-variance distribution — the L2 Faiss default), but on
    // a weakly-clustered corpus under the INNER-PRODUCT metric the
    // centroid is near-orthogonal to its members, |nv − cu|² ≈ |nv|² +
    // |cu|², and the residual is NOISIER than the raw unit vector — the
    // fixture measures exactly that (442 vs 487 hits at sf0.001), which
    // is why the engine ships BOTH encodings and the s23-style recall
    // audit adjudicates per corpus. What this test pins is that the
    // residual math is RIGHT: a wrong centroid, dropped qc term, or sign
    // flip collapses the ADC ordering toward noise and lands far below
    // the 0.85×raw floor, while the correct decomposition tracks the raw
    // twin closely even on this worst-case-for-residual corpus.
    val resHits = recallHits(rows)
    val rawHits = recallHits(Similarity.s20IvfPqSearch(spark, sf).collect())
    assert(resHits >= (rawHits * 85) / 100,
      s"residual ADC recall ($resHits) collapsed vs raw-vector ADC " +
        s"($rawHits) — the residual decomposition is broken, not merely " +
        "corpus-disadvantaged")
  }

  test("s29 SQ8: contract, build-once, 8-bit-per-dim codes beat PQ recall") {
    val rows = Similarity.s29SqSearch(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.map(_.getInt(1)).sorted.sameElements(1 to rs.length),
        s"query $q rn gap")
      rs.foreach { r =>
        val sr = r.getInt(4)
        assert(sr >= 1 && sr <= Similarity.RerankPool, s"query $q sq_rank $sr")
      }
    }
    // build-once: a fresh first-toucher reuses the stored params + codes
    Similarity.sqIndex.forget()
    val b0 = Similarity.sqIndex.builds.get()
    Similarity.s29SqSearch(spark, sf).collect()
    assert(Similarity.sqIndex.builds.get() == b0,
      "a matching fingerprint must reuse the stored SQ8 index")
    // the compression/fidelity trade must be visible: SQ8 spends 64 B
    // per vector (8 bits per dimension) where PQ spends 8 B (16
    // codewords per 8-dim subspace) — on the same probes/pool/refine,
    // the finer code cannot lose to the coarser one unless the
    // quantize/reconstruct math is broken
    val sqHits = recallHits(rows)
    val pqHits = recallHits(Similarity.s21PqIndexSearch(spark, sf).collect())
    assert(sqHits >= pqHits,
      s"SQ8 recall ($sqHits) below PQ recall ($pqHits) at 8x the bytes")
  }

  test("s30 BQ: contract, build-once, Hamming coarse stage recovers real recall") {
    val rows = Similarity.s30BqSearch(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.map(_.getInt(1)).sorted.sameElements(1 to rs.length),
        s"query $q rn gap")
      rs.foreach { r =>
        val br = r.getInt(4)
        assert(br >= 1 && br <= Similarity.RerankPool, s"query $q bq_rank $br")
      }
    }
    // build-once: a fresh first-toucher reuses the stored codes
    Similarity.bqIndex.forget()
    val b0 = Similarity.bqIndex.builds.get()
    Similarity.s30BqSearch(spark, sf).collect()
    assert(Similarity.bqIndex.builds.get() == b0,
      "a matching fingerprint must reuse the stored sign-bit index")
    // measured on this fixture: bq=481 / pq=487 / sq=561 hits — at the
    // 32-candidate pool the exact refine recovers nearly all of PQ's
    // recall from 1-bit codes (SimHash angle estimation is unbiased on
    // near-isotropic unit vectors). The floor is set where only a
    // sign/xor/pack bug can land (those collapse toward the ~random
    // pool floor), not where fixture drift could.
    val bqHits = recallHits(rows)
    val pqHits = recallHits(Similarity.s21PqIndexSearch(spark, sf).collect())
    assert(bqHits >= (pqHits * 85) / 100,
      s"sign-bit Hamming recall ($bqHits) collapsed vs PQ ($pqHits) — " +
        "a sign/xor/pack bug, not quantization loss")
  }

  test("s31 range search: radius semantics, exact scores, windowless plan") {
    val df = Similarity.s31RangeSearch(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(2) >= Similarity.RangeRadius,
      s"pair (${r.getLong(0)}, ${r.getLong(1)}) below the radius"))
    // the contract difference from every top-k server: the per-query
    // result is unbounded, so candidates pass a pure filter — no
    // window may rank them by score (the probe derivation's
    // centroid-rank window is the only one allowed in the plan)
    // positive form: EVERY window in the plan must be the probe
    // derivation's centroid ranking (ordered by csim) — a candidate
    // ranking under any column name would fail this, where a
    // no-"score"-substring check could be dodged by a rename
    val windowLines = df.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windowLines.forall(_.contains("csim")),
      s"range search must not rank candidates per query:\n" +
        windowLines.mkString("\n"))
    // pairs are distinct by construction (one cell per vector)
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).distinct.length
      == rows.length, "duplicate (query, neighbor) pairs")
    // scores are the exact floor-quantized cosine: recompute a sample
    // from raw floats entirely in Scala — strided across the WHOLE
    // result so every query/cell region is represented, not just the
    // lowest query_ids the (query_id, neighbor_id) ordering fronts
    val sample = rows.indices.by(math.max(1, rows.length / 50))
      .map(rows).toArray
    val ids = sample.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val nv = Tables(spark, sf, "embeddings")
      .filter(col("vec_id").isin(ids.toSeq: _*))
      .collect().map { r =>
        val e = r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble)
        val n = math.sqrt(e.map(x => x * x).sum)
        r.getLong(r.fieldIndex("vec_id")) -> e.map(_ / n)
      }.toMap
    sample.foreach { r =>
      val (q, c) = (nv(r.getLong(0)), nv(r.getLong(1)))
      val want = math.floor(
        q.zip(c).foldLeft(0.0) { case (a, (x, y)) => a + x * y }
          * 1048576.0).toLong
      assert(r.getLong(2) == want,
        s"score mismatch for (${r.getLong(0)}, ${r.getLong(1)})")
    }
  }

  test("s32 remove_ids: deleted ids never serve, removal is idempotent, " +
      "a wiped artifact rebuilds through the same two-state machine") {
    val df = IndexDelete.s32TombstoneSearch(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // the delete contract: no tombstoned id is ever a neighbor...
    rows.foreach { r =>
      val n = r.getAs[Long]("neighbor_id")
      assert(n % IndexDelete.DeleteMod != IndexDelete.DeleteRes,
        s"deleted id $n served as a neighbor")
    }
    // ...but deletion does not revoke anyone's right to QUERY
    assert(rows.exists(r =>
      r.getAs[Long]("query_id") % IndexDelete.DeleteMod
        == IndexDelete.DeleteRes),
      "deleted vectors must still issue queries (fixture has %5∩%17 ids)")
    // the delete set actually bit: s15 (same chain, undeleted index)
    // must differ — otherwise the fixture never put a deleted id in
    // any top-5 and the test proves nothing
    val s15 = Similarity.s15IndexProbe(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rn"),
        r.getAs[Long]("neighbor_id"))).toSet
    val s32 = rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rn"),
      r.getAs[Long]("neighbor_id"))).toSet
    assert(s32 != s15, "delete set never appeared in any s15 top-5")

    // batch remove_ids semantics on the mutated artifact
    val base = IndexDelete.tombIndexBase(spark, sf)
    import SparkTestSession.spark.implicits._
    // already-tombstoned and absent ids remove nothing
    assert(IndexDelete.applyDeletes(IndexFamily.Ivf, spark, base,
      Seq(IndexDelete.DeleteRes, -1L).toDF("vec_id")) == 0L,
      "re-delete + absent id must be a no-op")
    // fingerprint == a fresh fingerprint of the live membership
    val v = Similarity.normed(spark, sf)
    val (ln, lx) = IndexFamily.Ivf.parts(
      v.filter(col("vec_id") % IndexDelete.DeleteMod
        =!= IndexDelete.DeleteRes))
    assert(graft.io.ArtifactStore.currentFingerprint(base)
      .contains(graft.io.ArtifactStore.fingerprint(ln, lx)),
      "artifact fingerprint must equal the survivors' fingerprint")

    // wipe + forget: the state machine rebuilds (full build at the
    // full-corpus fingerprint, then the delete mutation) to the same
    // serving state — the crash-between-states recovery path is the
    // second touch of the same machine
    graft.io.ArtifactStore.deleteTree(base)
    IndexDelete.ivfTomb.forget()
    val rows2 = IndexDelete.s32TombstoneSearch(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rn"),
        r.getAs[Long]("neighbor_id"))).toSet
    assert(rows2 == s32, "rebuilt artifact must serve identically")
  }

  test("p22 exact-token packing: totals conserved, boundaries really move vs p12") {
    import graft.llm.{Pipeline, Tokenizer}
    val p22 = Pipeline.p22BpePacking(spark, sf).collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("pack_id"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("pack_tokens")))
    assert(p22.nonEmpty)
    // conservation: every BPE token of every doc lands in exactly one pack
    val totalBpe = Tokenizer.t20BpeEncode(spark, sf)
      .agg(sum(col("n_bpe"))).collect()(0).getLong(0)
    assert(p22.map(_._4).sum == totalBpe,
      "packs must partition the corpus' exact token mass")
    val totalDocs = Tables(spark, sf, "documents").count()
    assert(p22.map(_._3).sum == totalDocs)
    // the exact counts MOVE pack boundaries (not just relabel token
    // sums): some pack holds a different number of docs than p12's
    // whitespace-estimate packing of the same shard order
    val p12 = Pipeline.p12ShardPacking(spark, sf).collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("pack_id"),
        r.getAs[Long]("n_docs")))
    assert(p22.map(t => (t._1, t._2, t._3)).toSet != p12.toSet,
      "estimate-based and exact-token packing coincided — p22 proves nothing")
  }

  test("quantizer kernel contracts: SQ8 reconstruction bound, BQ pack/unpack bijectivity") {
    // hash parity proves engine == oracle; these pin the KERNELS'
    // mathematical contracts, which both engines could violate
    // together. Run through the real SQL expression texts.
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val vecs = (0L until 200L)
      .map(i => (i, Seq.fill(64)((rnd.nextDouble() - 0.5) * 2.0)))
    val nv = vecs.toDF("vec_id", "nv")
    // train ranges exactly as sqBuildFromNv does (via the aggregate
    // shape), then encode with the real sqEncode and decode with the
    // serving reconstruction lambda
    val mm = nv.select(posexplode(col("nv")).as(Seq("j", "x")))
      .groupBy(col("j"))
      .agg(min(col("x")).as("vmn"), max(col("x")).as("vmx"))
      .withColumn("vdiff", col("vmx") - col("vmn"))
      .groupBy()
      .agg(
        transform(array_sort(collect_list(struct(col("j"), col("vmn")))),
          s => s.getField("vmn")).as("vmin"),
        transform(array_sort(collect_list(struct(col("j"), col("vdiff")))),
          s => s.getField("vdiff")).as("vdiff"))
    val recon = Similarity.sqEncode(nv, mm)
      .join(broadcast(mm), lit(true))
      .withColumn("rv", expr(
        "transform(scodes, (c, j) -> element_at(vmin, j + 1) + " +
          "(CAST(c AS DOUBLE) * element_at(vdiff, j + 1)) / 255.0)"))
      .select(col("vec_id"), col("rv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val ranges = mm.collect().head
    val vdiffs = ranges.getSeq[Double](1)
    vecs.foreach { case (id, xs) =>
      xs.indices.foreach { j =>
        // QT_8bit round-to-nearest: |x − x̂| ≤ vdiff/510 (+ float slop)
        val bound = vdiffs(j) / 510.0 + 1e-12
        val err = math.abs(xs(j) - recon(id)(j))
        assert(err <= bound,
          s"vec $id dim $j: reconstruction error $err exceeds $bound")
      }
    }
    // BQ: unpacking the two packed halves recovers exactly the sign
    // predicate per dimension (bijective on the sign pattern)
    val bits = Similarity.bqBits(nv).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    vecs.foreach { case (id, xs) =>
      val (lo, hi) = bits(id)
      xs.indices.foreach { j =>
        val bit =
          if (j < 32) (lo >> j) & 1L else (hi >> (j - 32)) & 1L
        assert((bit == 1L) == (xs(j) > 0.0),
          s"vec $id dim $j: sign bit $bit for value ${xs(j)}")
      }
    }
  }

  test("ground-truth artifact: one build per corpus fingerprint, audits read the stored panel") {
    Similarity.s23RecallAudit(spark, sf).collect() // materialize the artifact
    // a fresh first-toucher (path cache forgotten = the next audit
    // JVM) must reuse the stored panel with ZERO rebuilds — the GT
    // pass is the expensive audit stage and is a pure function of the
    // corpus, so it runs at artifact-build cadence only
    Similarity.gtTop10.forget()
    val b0 = Similarity.gtTop10.builds.get()
    Similarity.s23RecallAudit(spark, sf).collect()
    Similarity.s25NprobeSweep(spark, sf).collect()
    assert(Similarity.gtTop10.builds.get() == b0,
      "a matching fingerprint must reuse the stored ground truth")
    // and the audit PLAN reads the artifact — the all-pairs subtree
    // lives in the builder, not in the per-audit query
    val gtScans = Similarity.s23RecallAudit(spark, sf)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(
            _.toString.contains("gt-top10")) => f
      }
    assert(gtScans.nonEmpty, "s23's truth side must read the GT artifact")
  }

  test("s24 recall retrain: fires on the fixture's SLO violation, retrained generation re-audited") {
    val rows = Similarity.s24RecallRetrain(spark, sf).collect()
    // the incremental generation (base-trained models) misses the 0.9
    // recall SLO on the fixture, so the loop must have fired: two
    // phases, both flagged, same audited query panel
    assert(rows.length == 2,
      s"expected degraded+retrained rows, got ${rows.toSeq}")
    val deg = rows(0)
    val rt = rows(1)
    assert(deg.getString(0) == "served_degraded")
    assert(rt.getString(0) == "served_retrained")
    assert(deg.getBoolean(3) && rt.getBoolean(3))
    val q = deg.getInt(1)
    assert(q > 0 && rt.getInt(1) == q)
    // the decision's premise holds in the output itself
    assert(deg.getLong(2) < Similarity.RecallFloorNum.toLong * q,
      s"fired with hits=${deg.getLong(2)} of $q queries — not degraded")
    assert(rt.getLong(2) >= 0 && rt.getLong(2) <= 10L * q)
    // the retrained generation is a real published artifact pair
    // (staged build + marker), and a fresh path cache (the next JVM)
    // reuses it with ZERO retrains — fingerprint match, no rebuild
    for (kind <- Seq("ivf-index-rt", "pq-index-rt"))
      assert(graft.io.ArtifactStore.currentFingerprint(
          graft.io.ArtifactStore.artifactPath(kind, sf)).nonEmpty,
        s"$kind not published")
    def rtBuilds = Similarity.rtIvfIndex.builds.get() +
      Similarity.rtPqIndex.builds.get()
    Similarity.rtIvfIndex.forget(); Similarity.rtPqIndex.forget()
    val t0 = rtBuilds
    Similarity.s24RecallRetrain(spark, sf).collect()
    assert(rtBuilds == t0,
      "a matching fingerprint must reuse the retrained generation")
  }

  test("s24 fires ONLY on degradation: at-floor and vacuous audits leave the rt generation unbuilt") {
    // the decision boundary itself, pinned at its edges (args are
    // (truthRows, hits) — the denominator is the ACHIEVABLE truth)
    assert(!Similarity.retrainDecision(20, 18)) // exactly at the 0.9 SLO — healthy
    assert(Similarity.retrainDecision(20, 17))  // one hit under — degraded
    assert(Similarity.retrainDecision(20, 0))
    assert(!Similarity.retrainDecision(20, 20))
    assert(!Similarity.retrainDecision(0, 0))   // vacuous audit: no evidence
    // a small index has < 10 truth rows per query; perfect recall on
    // the achievable truth must NOT fire (the 10·queries denominator
    // fired forever on any index of <= 10 vectors — review-caught)
    assert(!Similarity.retrainDecision(14, 14))
    assert(Similarity.retrainDecision(14, 12))
    // integration of the no-fire branch: a corpus with NO appended
    // stratum (no vec_id ≡ 3 mod 7) has an empty audit panel — the
    // incremental index family must tolerate the EMPTY append batch
    // (bootstrap-only state machine), the loop must not fire, and no
    // rt artifacts may materialize
    val dir = java.nio.file.Files
      .createTempDirectory("graft_s24_nobatch").toString
    import spark.implicits._
    (0L until 64L).filter(_ % 7 != 3)
      .map(i => (i, Array.tabulate(64)(j => ((i + j) % 16).toFloat + 1f),
        (i % 5).toInt))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // the appendable siblings survive an empty batch too (their query
    // set IS the batch, so served output is empty, never a crash)
    assert(Similarity.s16IncrementalIndexUpdate(spark, dir).collect().isEmpty)
    assert(Similarity.s22IncrementalPqSearch(spark, dir).collect().isEmpty)
    val out = Similarity.s24RecallRetrain(spark, dir).collect()
    assert(out.length == 1, s"retrained row without degradation: ${out.toSeq}")
    assert(out(0).getString(0) == "served_degraded")
    assert(!out(0).getBoolean(3), "fired on a vacuous audit")
    assert(out(0).getInt(1) == 0 && out(0).getLong(2) == 0L)
    for (kind <- Seq("ivf-index-rt", "pq-index-rt"))
      assert(graft.io.ArtifactStore.currentFingerprint(
          graft.io.ArtifactStore.artifactPath(kind, dir)).isEmpty,
        s"$kind built without a fired decision")
  }

  test("s25 nprobe sweep: monotone curve, one code-table scan, nprobe=3 equals the s23 audit") {
    val df = Similarity.s25NprobeSweep(spark, sf)
    val rows = df.collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 3, 5))
    // scanned (ADC pairs paid) strictly grows with nprobe — the
    // sweep's cost axis; hits is measured, not assumed monotone, but
    // the widest setting must not lose to the narrowest
    val scanned = rows.map(_.getLong(1))
    assert(scanned(0) < scanned(1) && scanned(1) < scanned(2),
      s"scanned not monotone: ${scanned.toSeq}")
    val hits = rows.map(_.getLong(2))
    assert(hits(2) >= hits(0), s"hits fell across the sweep: ${hits.toSeq}")
    // the nprobe=3 setting IS the served s20 chain — its hits must
    // equal the s23 audit's total exactly
    val s23Total = Similarity.s23RecallAudit(spark, sf).collect()
      .map(_.getInt(1).toLong).sum
    assert(hits(1) == s23Total,
      s"sweep@3 hits ${hits(1)} != s23 audit total $s23Total")
    // filter-not-rescan: the stored code table is scanned ONCE at the
    // max setting; every smaller setting derives by filter (pre-AQE
    // plan — AQE hides scans inside query stages)
    val codeScans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(p =>
          p.toString.contains("/pq-index/") &&
            p.toString.contains("codes")) => f
    }
    assert(codeScans.length == 1,
      s"sweep scans the stored code table ${codeScans.length}x — " +
        "settings must derive by filter, not rescan")
  }

  test("s12b bucketed bitext: pairs are IVF candidates, no cross join in the mining subtree") {
    val rows = Similarity.s12bBitextMarginBucketed(spark, sf).collect()
    assert(rows.nonEmpty)
    // one best tgt per src (the rx=1 contract, same as s12)
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    // every mined pair IS a candidate: src and tgt probe a common cell
    val probed = Similarity.ivfRanked(spark, sf)
      .filter(col("cell_rank") <= 3).select("vec_id", "cell").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
      .toMap
    rows.foreach { r =>
      val (x, y) = (r.getLong(0), r.getLong(1))
      assert((probed(x) & probed(y)).nonEmpty,
        s"mined pair ($x, $y) shares no probed cell")
      assert(x % 2 == 0 && y % 2 == 1)
      assert(r.getDouble(2) > 0)
    }
    // the pre-checkpoint mining subtree (candidate join + scoring):
    // pair generation is a cell-keyed equi-join — no CartesianProduct,
    // and any BroadcastNestedLoopJoin is the 16-row centroid fan-out
    // (its subtree reads the centroids artifact), never src × tgt
    val plan = Similarity.s12bScoredPairs(spark, sf)
      .queryExecution.sparkPlan
    assert(plan.collect {
      case c if c.nodeName.contains("CartesianProduct") => c
    }.isEmpty, "s12b plans a CartesianProduct")
    val bnl = plan.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
    }
    assert(bnl.nonEmpty, "expected the centroid fan-out in the subtree")
    bnl.foreach { b =>
      val scans = b.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.exists(_.relation.location.rootPaths.exists(
          _.toString.contains("centroids"))),
        "a BNLJ in s12b that is not the centroid fan-out")
    }
  }

  test("s26 filtered IVF-PQ: only cross-label neighbors, dense ranks, served off the stored index") {
    val labels = Tables(spark, sf, "embeddings").collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    val df = Similarity.s26FilteredIvfPq(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (q, n) = (r.getLong(0), r.getLong(2))
      assert(q % 4 == 0, s"query $q outside the %4 panel")
      assert(labels(q) != labels(n),
        s"same-label pair ($q, $n) served as a hard negative")
      assert(r.getInt(3) == labels(n), "n_label must be the neighbor's")
    }
    // ranks dense from 1, scores non-increasing per query
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to rs.length),
        s"query $q ranks not dense")
      assert(sorted.sliding(2).forall(p => p.length < 2 ||
        p(0).getLong(4) >= p(1).getLong(4)), s"query $q scores not sorted")
      assert(rs.length <= 5)
    }
    // the scoring path reads the STORED code table, not the corpus
    val codeScans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(p =>
          p.toString.contains("/pq-index/") &&
            p.toString.contains("codes")) => f
    }
    assert(codeScans.nonEmpty, "s26 must score from the stored codes")
  }

  test("d18 index-served dedup equals from-scratch d10; index builds once") {
    // the persisted-LSH-index claim: a new batch checked against the
    // STORED digests + band postings must classify every doc exactly
    // as d10's full recomputation does (banding recall at j >= 0.8 +
    // exact verification make the index path lossless)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = rows(Dedup.d10IncrementalDedup(spark, sf))
    val got = rows(Dedup.d18PersistedDedupIndex(spark, sf))
    assert(got.nonEmpty)
    assert(got == want)
    // the split actually exercises all three statuses on the fixture
    assert(got.map(_._2).toSet == Set("exact", "near", "unique")
      || got.map(_._2).toSet == Set("near", "unique")
      || got.map(_._2).toSet == Set("exact", "unique"))
    // build-once: a fresh first-toucher (path cache forgotten = the
    // next batch's JVM) reuses the stored index with zero rebuilds
    Dedup.dedupIndex.forget()
    val b0 = Dedup.dedupIndex.builds.get()
    Dedup.d18PersistedDedupIndex(spark, sf).collect()
    assert(Dedup.dedupIndex.builds.get() == b0,
      "a matching fingerprint must reuse the stored dedup index")
  }

  test("d20 takedown: removed docs stop suppressing arrivals; removal idempotent") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val got = rows(Dedup.d20IndexTakedown(spark, sf))
    val d18 = rows(Dedup.d18PersistedDedupIndex(spark, sf))
    assert(got.nonEmpty)
    // no doc may become MORE duplicated by removing index rows; the
    // re-admission FLIP (a doc whose only duplicate was removed turns
    // unique) depends on where the fixture's dup pairs land — it fires
    // at sf0.01 (observed: docs 87/120 near→unique, and the DuckDB
    // oracle hashes the flipped result), while this spec's sf0.001
    // asserts the invariants that must hold at every SF
    val rank = Map("unique" -> 0, "near" -> 1, "exact" -> 2)
    got.zip(d18).foreach { case ((id, s20), (id18, s18)) =>
      assert(id == id18)
      assert(rank(s20) <= rank(s18),
        s"doc $id became MORE duplicated after a takedown: $s18 -> $s20")
    }
    // exact-arm differential (the arm whose multiplicity the per-doc
    // digest grain protects): a probe doc is 'exact' iff some LIVE
    // standing doc carries identical text — recomputed driver-side
    // from the raw fixture, no index
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val liveTexts = docs.collect { case (id, t)
      if id % 3 != 0 && id % Dedup.TakedownMod != Dedup.TakedownRem => t
    }.toSet
    got.foreach { case (id, status) =>
      val hasExact = liveTexts.contains(docs.find(_._1 == id).get._2)
      assert((status == "exact") == hasExact,
        s"doc $id exact-arm mismatch vs raw recompute (got $status)")
    }
    // idempotency through the per-doc digest resolution
    val base = graft.io.ArtifactStore.artifactPath("dedup-tomb", sf)
    import SparkTestSession.spark.implicits._
    assert(IndexDelete.applyDeletes(IndexFamily.Lsh, spark, base,
      Seq(2L, 13L, -1L).toDF("doc_id")) == 0L,
      "re-delete (2, 13 ∈ takedown set) + unknown id must remove nothing")
    // and the takedown really landed as index state
    assert(graft.llm.IndexDelete.tombstonesAt(spark, base, "doc_id")
      .count() > 0, "the artifact must carry the tombstone set")
  }

  test("d19 append-then-probe equals from-scratch d18; build and append run once") {
    // the lifecycle claim: an index built on HALF the standing corpus
    // and grown by appending the other half must serve the probe
    // exactly like d18's single-shot index over the whole standing
    // corpus — same docs indexed, same answers, regardless of how the
    // index got there
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = rows(Dedup.d18PersistedDedupIndex(spark, sf))
    val got = rows(Dedup.d19IncrementalIndexAppend(spark, sf))
    assert(got.nonEmpty)
    assert(got == want,
      "the grown index must answer exactly like the from-scratch index")
    // build-once + append-once: a fresh first-toucher (path cache
    // forgotten = the next nightly job's JVM) finds the artifact at
    // the UNION fingerprint — zero builds, zero appends
    Dedup.dedupIncIndex.forget()
    val b0 = Dedup.dedupIncIndex.builds.get()
    val a0 = Dedup.dedupIncIndex.appends.get()
    Dedup.d19IncrementalIndexAppend(spark, sf).collect()
    assert(Dedup.dedupIncIndex.builds.get() == b0,
      "repeat touch must not rebuild the base index")
    assert(Dedup.dedupIncIndex.appends.get() == a0,
      "repeat touch must not re-append the batch")
  }

  test("d10/d18/d19 agree on random corpora with planted exact and near dups") {
    // the three paths to one answer — from-scratch recompute (d10),
    // probe of a single-shot index (d18), probe of a built-then-grown
    // index (d19) — must agree not just on the fixture but on random
    // corpora with dups PLANTED across every split boundary the
    // operators partition on (%3 new/standing for the probe, %3==1/2
    // base/batch for the append): a banding, append or fingerprint
    // bug that happens to cancel on the fixture has to survive three
    // seeds of adversarial placement here
    import spark.implicits._
    for (seed <- Seq(11, 77, 203)) {
      val rnd = new scala.util.Random(seed)
      val tmp = java.nio.file.Files.createTempDirectory(s"d19-rand-$seed")
      for (f <- new java.io.File(sf).listFiles
          if f.getName.endsWith(".parquet") && f.getName != "documents.parquet")
        java.nio.file.Files.copy(f.toPath, tmp.resolve(f.getName))
      val vocab = Vector.tabulate(400)(i => s"w${i}x${(i * 7919) % 997}")
      def fresh(words: Int): String =
        Seq.fill(words)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      def nearOf(t: String): String = {
        // mutate ~1 word in 40: shingle Jaccard stays >= 0.8
        val ws = t.split(" ").toArray
        ws(rnd.nextInt(ws.length)) = vocab(rnd.nextInt(vocab.length))
        ws.mkString(" ")
      }
      val n = 120
      val base = (0 until n).map(i => i.toLong -> fresh(40 + rnd.nextInt(20)))
      // plant: for ids 0..29, overwrite with copies/near-copies of a
      // doc from a DIFFERENT residue class (both %3 and %6 straddled)
      val planted = base.toMap ++ (0 until 30).map { i =>
        val donor = base((i + 1 + rnd.nextInt(n - 2)) % n)._2
        i.toLong -> (if (i % 2 == 0) donor else nearOf(donor))
      }
      planted.toSeq.sortBy(_._1)
        .map { case (id, t) => (id, t, "en", "rand", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite")
        .parquet(tmp.resolve("documents.parquet").toString)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      val want = rows(Dedup.d10IncrementalDedup(spark, tmp.toString))
      assert(want.exists(_._2 != "unique"),
        s"seed $seed planted no cross-side dups — generator broken")
      assert(rows(Dedup.d18PersistedDedupIndex(spark, tmp.toString)) == want,
        s"seed $seed: single-shot index probe diverges from d10")
      assert(rows(Dedup.d19IncrementalIndexAppend(spark, tmp.toString)) == want,
        s"seed $seed: grown-index probe diverges from d10")
    }
  }

  test("d14 bloom prefilter: sound fast-path, exact_dup set equals d10's") {
    val rows = Dedup.d14BloomPrefilter(spark, sf).collect()
    val newBatch = Tables(spark, sf, "documents")
      .filter(col("doc_id") % 3 === 0).count()
    assert(rows.length == newBatch) // one disposition per new-batch doc
    val byStatus = rows.groupBy(_.getAs[String]("status"))
      .view.mapValues(_.map(_.getAs[Long]("doc_id")).toSet).toMap
    assert(byStatus.keySet.subsetOf(Set("unique_fast", "exact_dup", "collision")))
    // the filter's no-false-negative property: every doc d10 calls an
    // exact duplicate must have HIT the bucket filter (status exact_dup,
    // never unique_fast) — and nothing else may be called exact_dup
    val d10Exact = Dedup.d10IncrementalDedup(spark, sf).collect()
      .filter(_.getAs[String]("status") == "exact")
      .map(_.getAs[Long]("doc_id")).toSet
    assert(byStatus.getOrElse("exact_dup", Set.empty) == d10Exact)
  }

  test("d15 dup spans equal a brute-force single-machine re-derivation") {
    val L = Dedup.DupSpanL
    val texts = Tables(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    // independent reimplementation: shingle map -> dup positions -> merge
    val byShingle = scala.collection.mutable.Map.empty[String, Set[Long]]
    texts.foreach { case (id, t) =>
      if (t.length >= L)
        (0 to t.length - L).foreach { p =>
          val s = t.substring(p, p + L)
          byShingle(s) = byShingle.getOrElse(s, Set.empty) + id
        }
    }
    val expected = texts.toSeq.flatMap { case (id, t) =>
      val hits = if (t.length < L) Seq.empty
        else (0 to t.length - L).filter(p => byShingle(t.substring(p, p + L)).size >= 2)
      // interval merge of [p, p+L)
      hits.foldLeft(List.empty[(Long, Long)]) { case (acc, p) =>
        acc match {
          case (a, b) :: rest if p <= b => (a, math.max(b, p + L).toLong) :: rest
          case _ => (p.toLong, (p + L).toLong) :: acc
        }
      }.reverse.map { case (a, b) => (id, a, b) }
    }.toSet
    val got = Dedup.d15DupSpans(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"))).toSet
    assert(got == expected,
      s"span mismatch: extra=${(got -- expected).take(5)} missing=${(expected -- got).take(5)}")
    // fixture property: passage-level reuse includes multi-span docs
    val perDoc = got.groupBy(_._1).values.map(_.size)
    assert(perDoc.exists(_ > 1) && got.nonEmpty)
  }

  test("s12 bitext margins: one best target per source, both strata") {
    val rows = Similarity.s12BitextMargin(spark, sf).collect()
    val srcs = rows.map(_.getAs[Long]("src_id"))
    assert(srcs.distinct.length == srcs.length) // one row per source
    rows.foreach { r =>
      assert(r.getAs[Long]("src_id") % 2 == 0)
      assert(r.getAs[Long]("tgt_id") % 2 == 1)
      val m = r.getAs[Double]("margin")
      assert(!m.isNaN && !m.isInfinite)
    }
    // forward-backward agreement must mark at least one aligned pair
    assert(rows.exists(_.getAs[Boolean]("mutual")))
  }

  test("g01 PageRank: integer mass conserved up to floor loss") {
    val rows = llm.Authority.g01PageRank(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("qrank")).sum.toDouble
    val n = rows.length
    // every damped update floors twice; losses stay under 1% of the
    // N·2^20 invariant mass, and no node can fall below the teleport base
    assert(total <= n * 1048576.0 * 1.0001, s"mass $total over $n nodes")
    assert(total >= n * 1048576.0 * 0.99, s"mass $total under $n nodes")
    rows.foreach(r => assert(r.getAs[Long]("qrank") >= 157286L))
    // output is one row per graph node, rank-descending
    val ranks = rows.map(_.getAs[Long]("qrank"))
    assert(ranks.zip(ranks.tail).forall { case (a, b) => a >= b })
  }

  test("propagate core equals an exact driver-side simulation on random graphs") {
    // differential test: the distributed join+agg rounds must
    // reproduce, Long-for-Long, a sequential simulation of the same
    // integer update rule — on graphs the fixture never shapes
    // (stars, chains, hubs), from fixed seeds
    import SparkTestSession.spark.implicits._
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val n = 20 + rnd.nextInt(30)
      val undirected = (0 until (n * 2)).map { _ =>
        (rnd.nextInt(n).toLong, (100L + rnd.nextInt(n)).toLong)
      }.distinct
      val both = undirected ++ undirected.map { case (a, b) => (b, a) }
      val edges = both.toDF("src", "dst")
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      val got = llm.Authority.propagate(
        edges, deg, lit(1048576L), lit(157286L), iters = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // sequential replay of the same rule
      val degM = both.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val in = both.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
      var r = degM.keys.map(_ -> 1048576L).toMap
      for (_ <- 1 to 3)
        r = in.map { case (d, srcs) =>
          d -> (157286L + 85L * srcs.map(s => r(s) / degM(s)).sum / 100L)
        }
      assert(got == r, s"seed $seed: distributed != sequential")
    }
  }

  test("g02 TrustRank: trust concentrates on and around the seeds") {
    val rows = llm.Authority.g02TrustRank(spark, sf).collect()
    val items = rows.filter(_.getAs[String]("node_type") == "item")
    val (seeds, rest) = items.partition(_.getAs[Long]("node_id") < 10)
    assert(seeds.nonEmpty)
    def mean(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.getAs[Long]("qrank")).sum.toDouble / rs.length
    // seeds hold the teleport mass; non-seed trust is propagation only
    assert(mean(seeds) > 5 * mean(rest),
      s"seed mean ${mean(seeds)} vs non-seed ${mean(rest)}")
    rows.foreach(r => assert(r.getAs[Long]("qrank") >= 0L))
    // same node universe as PageRank: trust adds no nodes, drops none
    assert(rows.length ==
      llm.Authority.g01PageRank(spark, sf).count())
  }

  test("t18 distilled classifier: full recall at the prior threshold, scores separate") {
    val rows = TextStats.t18QualityDistill(spark, sf).collect()
    assert(rows.length ==
      Tables(spark, sf, "documents").count())
    val (pos, neg) = rows.partition(_.getAs[Boolean]("label_hi"))
    assert(pos.nonEmpty && neg.nonEmpty,
      s"rule labeler must discriminate: ${pos.length} pos / ${neg.length} neg")
    // every rule-positive doc scores above the corpus prior: the token
    // weights recover the stopword signal the labeler encoded
    assert(pos.forall(_.getAs[Boolean]("pred_hi")),
      s"${pos.count(!_.getAs[Boolean]("pred_hi"))} rule-positives missed")
    // and strictly separate in the mean (fixture-measured margin)
    def mean(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.getAs[Long]("avg_e6")).sum.toDouble / rs.length
    assert(mean(pos) > mean(neg) + 1000,
      s"pos mean ${mean(pos)} vs neg mean ${mean(neg)}")
    // the model is better than the constant classifier: not everything
    // crosses the prior threshold
    assert(rows.exists(!_.getAs[Boolean]("pred_hi")))
  }

  test("m12 CDC chunks tile each doc; boundaries realign after an insertion") {
    import spark.implicits._
    val rows = Multimodal.m12CdcChunks(spark, sf).collect()
    assert(rows.nonEmpty)
    // chunks tile [0, n) contiguously, indexes dense from 0
    rows.groupBy(_.getAs[Long]("doc_id")).values.foreach { g =>
      val sorted = g.sortBy(_.getAs[Long]("chunk_idx"))
      assert(sorted.map(_.getAs[Long]("chunk_idx"))
        .sameElements(0L until sorted.length))
      var pos = 0L
      sorted.foreach { r =>
        assert(r.getAs[Long]("start") == pos)
        assert(r.getAs[Long]("len") > 0)
        pos += r.getAs[Long]("len")
      }
    }
    // shift invariance — the property fixed chunking (m07) lacks:
    // chunk a document and a prefix-shifted copy of it; every chunk
    // except the one containing the edit must reappear IDENTICALLY
    val docText = Tables(spark, sf, "documents")
      .filter(col("doc_id") === 1L).select("text").collect()(0)
      .getString(0)
    val tmp = java.nio.file.Files.createTempDirectory("m12-shift")
    Seq((1L, docText, "en", "src0", docText.length.toLong),
        (2L, "XYZ" + docText, "en", "src0", docText.length + 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(tmp.resolve("documents.parquet").toString)
    val pair = Multimodal.m12CdcChunks(spark, tmp.toString).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (id, g) =>
        id -> g.sortBy(_.getAs[Long]("chunk_idx"))
          .map(_.getAs[String]("chunk_md5")).toSeq
      }
    val (orig, shifted) = (pair(1L), pair(2L))
    // all original chunks past the first survive the 3-byte insertion
    assert(orig.tail.forall(shifted.contains),
      s"lost chunks: ${orig.tail.filterNot(shifted.contains).take(3)}")
    // and the shifted copy's tail IS the original's tail (realigned)
    assert(shifted.takeRight(orig.length - 1) == orig.tail)
    // the edit-containing head differs — chunking is content-defined,
    // not content-blind
    assert(shifted.head != orig.head)
  }

  test("m12/m13 enforce the ASCII + non-empty precondition as a filter") {
    import spark.implicits._
    // rolling_hashes walks UTF-8 bytes while the cut points feed
    // character-indexed substr — the coordinate systems only agree on
    // pure-ASCII text, so non-ASCII (and empty, which would zero
    // m13's ppm denominator) docs must be EXCLUDED, not mis-chunked
    val tmp = java.nio.file.Files.createTempDirectory("m12-ascii")
    Seq((1L, "plain ascii text long enough to chunk " * 4, "en"),
        (2L, "café au lait — déjà vu ☃ " * 8, "fr"),
        (3L, "", "en"))
      .map { case (id, t, l) => (id, t, l, "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(tmp.resolve("documents.parquet").toString)
    val ids12 = Multimodal.m12CdcChunks(spark, tmp.toString)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(ids12 == Set(1L), s"expected only the ASCII doc, got $ids12")
    val ids13 = Multimodal.m13CdcDedupStats(spark, tmp.toString)
      .select("doc_id").as[Long].collect().toSet
    assert(ids13 == Set(1L))
  }

  test("m13 CDC dedup accounting equals a recompute from the m12 chunk list") {
    val stats = Multimodal.m13CdcDedupStats(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_chunks"), r.getAs[Long]("total_bytes"),
          r.getAs[Long]("dup_chunks"), r.getAs[Long]("dup_bytes"),
          r.getAs[Long]("uniq_ppm"))).toMap
    val chunks = Multimodal.m12CdcChunks(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("len"),
        r.getAs[String]("chunk_md5")))
    val firstHolder = chunks.groupBy(_._3)
      .map { case (h, g) => h -> g.map(_._1).min }
    val want = chunks.groupBy(_._1).map { case (doc, g) =>
      val dup = g.filter(c => firstHolder(c._3) < doc)
      val total = g.map(_._2).sum
      val dupB = dup.map(_._2).sum
      doc -> (g.length.toLong, total, dup.length.toLong, dupB,
        (1000000L * (total - dupB)) / total)
    }
    assert(stats == want)
    // chunk bytes tile the text exactly
    val nChars = Tables(spark, sf, "documents").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_chars")).toMap
    stats.foreach { case (doc, s) => assert(s._2 == nChars(doc)) }
    // storage closes: every unique digest has at least one stored
    // (non-dup) instance — its first holder's copies (a digest
    // repeated INSIDE its first doc stores once per instance there,
    // so ≥, with equality iff no intra-doc repeats)
    assert(stats.values.map(t => t._1 - t._3).sum >=
      chunks.map(_._3).distinct.length)
  }

  test("s14 hard negatives: every neighbor is cross-label and beats the unreturned ones") {
    val rows = Similarity.s14HardNegatives(spark, sf).collect()
    assert(rows.nonEmpty)
    val labels = Tables(spark, sf, "embeddings").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    // the filter contract: no returned neighbor shares the query label
    rows.foreach { r =>
      assert(labels(r.getAs[Long]("query_id")) !=
        r.getAs[Int]("n_label"))
      assert(labels(r.getAs[Long]("neighbor_id")) ==
        r.getAs[Int]("n_label"))
    }
    // per query: at most 5, ranks dense from 1, cosine non-increasing
    rows.groupBy(_.getAs[Long]("query_id")).values.foreach { g =>
      val sorted = g.sortBy(_.getAs[Int]("rn"))
      assert(sorted.length <= 5)
      assert(sorted.map(_.getAs[Int]("rn")).sameElements(
        1 to sorted.length))
      val cs = sorted.map(_.getAs[Double]("cosine"))
      assert(cs.zip(cs.drop(1)).forall { case (a, b) => a >= b })
    }
    // and the same-label twin (s02) returns same-label rows this op
    // must never contain: the filter does real work on the fixture
    val s02SameLabel = Similarity.s02IvfTopK(spark, sf).collect()
      .exists(r => labels(r.getAs[Long]("query_id")) ==
        labels(r.getAs[Long]("neighbor_id")))
    assert(s02SameLabel, "fixture should have same-label near neighbors")
  }

  test("p21 schema evolution: old-shard rows survive with nulls, backfill closes the gap") {
    val out = llm.Pipeline.p21SchemaEvolution(spark, sf).collect()
      .map(r => r.getAs[String]("batch") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("null_source"),
          r.getAs[Long]("chars_filled"))).toMap
    assert(out.keySet == Set("e1", "e2"))
    val docs = Tables(spark, sf, "documents")
    assert(out("e1")._1 + out("e2")._1 == docs.count())
    // every epoch-1 row kept its place with a NULL source — not dropped
    assert(out("e1")._2 == out("e1")._1)
    assert(out("e2")._2 == 0L)
    // the length(text) backfill equals the stored n_chars it stands in
    // for (ASCII fixture), so the filled totals reconcile to the corpus
    val totalChars = docs
      .agg(org.apache.spark.sql.functions.sum("n_chars"))
      .collect()(0).getLong(0)
    assert(out("e1")._3 + out("e2")._3 == totalChars)
  }

  test("p20 JSONL round trip: nothing lost, escaping exact, shards complete") {
    val out = llm.Pipeline.p20JsonlRoundtrip(spark, sf).collect()
    val docs = Tables(spark, sf, "documents")
    // every document came back exactly once
    assert(out.map(_.getAs[Long]("n_docs")).sum == docs.count())
    assert(out.map(_.getAs[Long]("sum_doc_id")).sum ==
      docs.agg(org.apache.spark.sql.functions.sum("doc_id"))
        .collect()(0).getLong(0))
    // the text survived JSON escaping byte-for-byte: stored n_chars
    // equals length recomputed from the PARSED text
    out.foreach { r =>
      assert(r.getAs[Long]("total_chars") == r.getAs[Long]("parsed_chars"),
        s"shard ${r.getAs[Long]("shard")} lost characters in the round trip")
    }
    assert(out.nonEmpty && out.length <= 8)
    assert(out.forall(r => r.getAs[Long]("shard") >= 0 &&
      r.getAs[Long]("shard") < 8))
  }

  test("p19 DoReMi weights: shares normalize, excess loss drives monotone reweighting") {
    val rows = llm.Pipeline.p19DoremiWeights(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("loss_e6"),
        r.getAs[Long]("w1_e6"), r.getAs[Long]("w2_e6"),
        r.getAs[Long]("w3_e6")))
    val k = rows.length
    assert(k > 1)
    // every round's shares are positive ppm summing to 1e6 minus at
    // most one DIV-floor ulp per domain
    for (sel <- Seq[((String, Long, Long, Long, Long)) => Long](_._3,
        _._4, _._5)) {
      val s = rows.map(sel).sum
      assert(rows.forall(sel(_) > 0))
      assert(s <= 1000000L && s > 1000000L - k, s"share sum $s")
    }
    // multiplicative weights from a uniform start: round-1 weights are
    // a monotone transform of loss, so the orderings agree exactly
    assert(rows.sortBy(_._2).map(_._1).sameElements(
      rows.sortBy(t => (t._3, t._2)).map(_._1)))
    // the extreme domains move monotonically: max-loss gains weight
    // every round, min-loss sheds it
    val mx = rows.maxBy(_._2)
    val mn = rows.minBy(_._2)
    assert(mx._3 < mx._4 && mx._4 < mx._5, s"max-loss trajectory: $mx")
    assert(mn._3 > mn._4 && mn._4 > mn._5, s"min-loss trajectory: $mn")
  }

  test("p18 DSIR resample: threshold selection IS top-k by (importance, doc_id)") {
    val rows = llm.Pipeline.p18DsirResample(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("avg_e6"),
        r.getAs[Boolean]("selected")))
    assert(rows.nonEmpty)
    // no target-source doc leaks into the candidate set
    val targetDocs = Tables(spark, sf, "documents")
      .filter(org.apache.spark.sql.functions.col("source")
        .isin("src0", "src1", "src2", "src3"))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(rows.forall(t => !targetDocs.contains(t._1)))
    // the broadcast-threshold flag equals a naive global rank
    val k = math.min(llm.Pipeline.DsirSelectCount, rows.length)
    val wantSelected = rows.sortBy(t => (-t._2, t._1)).take(k)
      .map(_._1).toSet
    assert(rows.filter(_._3).map(_._1).toSet == wantSelected)
    assert(rows.count(_._3) == k)
    // selection is non-degenerate on the fixture
    assert(rows.exists(!_._3))
    // importance scores actually spread (bigram mixes differ per doc)
    assert(rows.map(_._2).distinct.length > 10)
  }

  /** Independent reference for t19/t20: the documented BPE contract
    * (weighted char vocabulary -> per round argmax adjacent pair, ties
    * to the least pair -> four resume-after-replacement passes),
    * replayed in plain Scala — no Spark, no SQL. The fixture is
    * ASCII-only, so JVM UTF-16, Spark UTF-8 and DuckDB orderings
    * coincide; java String.replace shares the leftmost/resume
    * semantics of both engines' replace. Returns the merge table and
    * each word type's final token count. */
  private def replayBpe(texts: Seq[String])
      : (Seq[(Int, String, String, Long)], Map[String, Long]) = {
    import graft.llm.Tokenizer
    val freq: Map[String, Long] = texts
      .flatMap(_.split(" ")).filter(_.length >= 2)
      .groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    var sym: Map[String, String] =
      freq.keysIterator.map(w => w -> (" " + w.mkString(" ") + " ")).toMap
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    for (i <- 1 to Tokenizer.BpeMerges) {
      val cnt = scala.collection.mutable.Map.empty[String, Long]
      for ((w, s) <- sym) {
        val l = s.trim.split(" ")
        for (j <- 0 until l.length - 1) {
          val p = l(j) + " " + l(j + 1)
          cnt(p) = cnt.getOrElse(p, 0L) + freq(w)
        }
      }
      if (cnt.nonEmpty) {
        val maxC = cnt.values.max
        val bp = cnt.collect { case (p, c) if c == maxC => p }.min
        val bm = bp.replace(" ", "")
        merges += ((i, bp, bm, maxC))
        val (pat, rep) = (" " + bp + " ", " " + bm + " ")
        sym = sym.map { case (w, s0) =>
          var s = s0
          for (_ <- 1 to Tokenizer.BpePasses) s = s.replace(pat, rep)
          w -> s
        }
      }
    }
    (merges.toSeq,
      sym.map { case (w, s) => w -> s.trim.split(" ").length.toLong })
  }

  test("t19 BPE merges: equals an independent in-memory replay of the contract") {
    import graft.llm.Tokenizer
    val texts = Tables(spark, sf, "documents")
      .select("text").collect().map(_.getString(0)).toSeq
    val (expected, _) = replayBpe(texts)
    val got = Tokenizer.t19BpeMerges(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == expected)
    // the fixture is rich enough to exercise all rounds, and at least
    // one learned merge builds ON an earlier merge (a pair token longer
    // than one char) — the property that separates BPE from a plain
    // bigram count
    assert(got.length == Tokenizer.BpeMerges)
    assert(got.exists(_._2.split(" ").exists(_.length > 1)),
      s"no compound merge learned: ${got.mkString(", ")}")
  }

  test("t20 BPE encode: per-doc token counts equal the replayed segmentation") {
    import graft.llm.Tokenizer
    val docs = Tables(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    val (_, typeTokens) = replayBpe(docs.map(_._2))
    val expected = docs.map { case (id, text) =>
      val ws = text.split(" ")
      val nWords = ws.count(_.nonEmpty).toLong
      val nBpe = ws.iterator.map { w =>
        if (w.length >= 2) typeTokens(w) else if (w.length == 1) 1L else 0L
      }.sum
      (id, nWords, nBpe)
    }.sortBy(_._1)
    val got = Tokenizer.t20BpeEncode(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    // merging strictly compresses: token counts sit between the word
    // count and the raw character count, and the 8 merges actually bite
    // on the fixture (total tokens < total chars)
    val totChars = docs.map(_._2.count(_ != ' ').toLong).sum
    assert(got.map(_._3).sum < totChars)
    assert(got.forall(t => t._3 >= t._2))
  }

  test("t19/t20 degenerate corpus: a dry pair table keeps the vocabulary") {
    import spark.implicits._
    import graft.llm.Tokenizer
    // one repeated two-char word: round 1 merges (a,b), every later
    // round's pair table is EMPTY. The rewrite must keep the vocabulary
    // (left join + coalesce) — the cross-join form zeroed it, and the
    // oracle replayed the same zero, so only this direct pin can catch
    // the class (hash-gate blind).
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_tiny")
      .toString
    Seq((0L, "ab ab ab"), (1L, "ab x"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val merges = Tokenizer.t19BpeMerges(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(merges.toSeq == Seq((1, "a b", "ab", 4L)))
    val enc = Tokenizer.t20BpeEncode(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // "ab" is ONE token after the merge (not zero — the erased-vocab
    // failure mode), "x" is one by the single-char rule
    assert(enc.toSeq == Seq((0L, 3L, 3L), (1L, 2L, 2L)))
  }
}
