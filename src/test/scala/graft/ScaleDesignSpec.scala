package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Evidence that the scale-oriented designs do what they claim:
  * aggregator-based top-k equals the window form, sketches stay within
  * error bounds, and bucketed tables join without a shuffle. */
class ScaleDesignSpec extends AnyFunSuite {
  import SparkTestSession._

  test("iterative ops leave no storage behind (the d07 leak class)") {
    // round-6 lesson: localCheckpoint blocks leak until driver GC, and
    // ~60 queries of accumulated leaks degraded d07 5× in-suite. The
    // eager iterative ops now free every intermediate deterministically;
    // this pins that contract — each op may add AT MOST its returned
    // result's checkpoint to the persistent-RDD set, never its loop
    // intermediates (edges, per-round levels).
    import spark.implicits._
    def persistentDelta(body: => Unit): Int = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      body
      spark.sparkContext.getPersistentRDDs.keySet.diff(before).size
    }
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val ccDelta = persistentDelta {
      // materialize fully: the returned frame is the result checkpoint
      llm.DupClusters.connectedComponents(pairs).collect()
    }
    assert(ccDelta <= 1,
      s"connectedComponents left $ccDelta persistent RDDs (want ≤ 1: " +
        "its result checkpoint only — edges/levels must be freed)")
    val q72Delta = persistentDelta {
      ops.Relational7.q72Ancestors(spark, sf).collect()
    }
    // the returned closure is one checkpoint; every superseded round
    // and the edge seed must have been released
    assert(q72Delta <= 1,
      s"q72 left $q72Delta persistent RDDs (want ≤ 1)")
  }

  test("p04 stratified sample: zero exchanges, per-stratum rates bind") {
    val core = llm.Pipeline.stratifiedSampleCore(
      Tables(spark, sf, "documents"))
    val physical = core.queryExecution.executedPlan.toString
    assert(!physical.contains("Exchange"),
      s"the sampling core must be a narrow map+filter:\n$physical")
    // the content-hash buckets are ~uniform, so each stratum's kept
    // fraction should track its configured per-mille rate
    val total = Tables(spark, sf, "documents")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = core.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    llm.Pipeline.SampleRatesPerMille.foreach { case (lang, rate) =>
      val frac = kept.getOrElse(lang, 0L).toDouble / total(lang)
      assert(math.abs(frac - rate / 1000.0) < 0.15,
        s"$lang kept $frac of ${total(lang)} docs, want ~${rate / 1000.0}")
    }
  }

  test("p16 PPS sample: zero exchanges, HT estimator recovers the corpus total") {
    val docs = Tables(spark, sf, "documents")
    val core = llm.Pipeline.ppsSampleCore(docs)
    val physical = core.queryExecution.executedPlan.toString
    assert(!physical.contains("Exchange"),
      s"the PPS core must be a narrow map+filter:\n$physical")
    val rows = core.collect()
    // membership + weight arithmetic is exactly the published contract
    rows.foreach { r =>
      val kpm = r.getAs[Long]("keep_per_mille")
      assert(kpm == math.min(llm.Pipeline.PpsCapPerMille, r.getAs[Long]("n_chars")))
      assert(r.getAs[Long]("bucket") < kpm)
      assert(r.getAs[Long]("ht_weight_ppm") == 1000000000L / kpm)
    }
    // both regimes occur: capped (p = cap) and proportional (p < cap)
    assert(rows.exists(_.getAs[Long]("keep_per_mille") == llm.Pipeline.PpsCapPerMille))
    assert(rows.exists(_.getAs[Long]("keep_per_mille") < llm.Pipeline.PpsCapPerMille))
    // Horvitz–Thompson: Σ n_chars/p over the sample estimates the true
    // total char count (content-hash buckets are ~uniform)
    val est = rows.map(r =>
      r.getAs[Long]("n_chars").toDouble * r.getAs[Long]("ht_weight_ppm") / 1e6).sum
    val truth = docs.agg(sum(col("n_chars"))).collect()(0).getLong(0).toDouble
    assert(math.abs(est - truth) / truth < 0.25,
      s"HT estimate $est vs true total $truth")
  }

  test("s03 aggregator top-k equals s01 window top-k exactly") {
    val a = llm.Similarity.s01BruteForceTopK(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val b = llm.Similarity.s03TopKAggregate(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(a.sameElements(b))
  }

  test("q35 sketches: bound-check booleans hold, exact companions match") {
    // q35 folds the sketch accuracy contracts into approx_ok/median_ok
    // (hash-compared against the oracle's literal TRUE); here we assert
    // them directly and cross-check the exact distinct column
    val rows = ops.Relational2.q35Verified(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getBoolean(3), r.getBoolean(4)))
      .toMap
    val exact = Tables(spark, sf, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("d"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet === exact.keySet)
    exact.foreach { case (k, d) =>
      val (ec, approxOk, medianOk) = rows(k)
      assert(ec === d, s"$k exact distinct")
      assert(approxOk, s"$k: HLL outside 3σ of exact distinct")
      assert(medianOk, s"$k: approx median outside p45..p55")
    }
  }

  test("q64 sketch reagg: merged estimate in bound, merge deduplicates") {
    // the verify shape's boolean gates the oracle hash; assert it
    // directly, then pin the property that makes the op worth having:
    // the merged yearly estimate deduplicates customers recurring
    // across months (strictly below the sum of monthly distincts)
    val verified = ops.Relational6.q64Verified(spark, sf).collect()
    assert(verified.nonEmpty)
    verified.foreach { r =>
      assert(r.getAs[Boolean]("approx_ok"),
        s"year ${r.get(0)}: merged HLL estimate outside 6% of exact")
    }
    val monthlySum = Tables(spark, sf, "orders")
      .groupBy(year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")))
      .agg(countDistinct(col("o_custkey")).as("d"))
      .groupBy(col("yr")).agg(sum(col("d")).as("msum"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val yearly = ops.Relational6.q64Production(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // every year with >1 active month must merge below its monthly sum
    val multiMonth = yearly.keySet.filter(y => monthlySum(y) > yearly(y))
    assert(multiMonth.nonEmpty, "fixture has no cross-month recurrence")
  }

  test("runtime bloom filter: selective dim filter reaches the fact scan as might_contain") {
    // at 100 TB the shuffle join's probe side is the cost; Spark's
    // runtime row-level filtering builds a bloom filter from the
    // filtered (creation) side and injects might_contain() into the
    // probe scan, cutting shuffled fact rows before the exchange. The
    // prod thresholds (10 GB probe scan) are sized for clusters, so a
    // child session lowers them to observe the mechanism at test scale;
    // broadcast is disabled because a broadcast join already prunes at
    // the build-hash and never needs the bloom.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val orders = Tables(s2, sf, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val joined = Tables(s2, sf, "lineitem")
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_quantity"))
    val optimized = joined.queryExecution.optimizedPlan.toString
    assert(optimized.contains("might_contain"),
      s"no runtime bloom filter injected:\n${optimized.take(2000)}")
    // and the filter is transparent: same rows as the plain join
    val expect = Tables(spark, sf, "lineitem")
      .join(Tables(spark, sf, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"))
      .count()
    assert(joined.count() == expect)
  }

  test("partitioned parquet sink: directory pruning, in-file ordering, round trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part_sink").toString
    try {
      val docs = Tables(spark, sf, "documents")
      io.Store.writePartitionedParquet(
        docs, dir, partitionCols = Seq("lang"), sortCols = Seq("doc_id"))
      // hive layout: one lang=<value> dir per distinct lang, nothing else
      val langs = docs.select("lang").distinct().collect().map(_.getString(0)).toSet
      val subdirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
        .map(_.getName).toSet
      assert(subdirs == langs.map(l => s"lang=$l"))
      // a selective read PRUNES: the scan's partition filters carry the
      // predicate, so other directories are never opened
      val back = spark.read.parquet(dir).filter(col("lang") === "en")
      val scan = back.queryExecution.executedPlan.collectLeaves().head.toString
      assert(scan.contains("PartitionFilters") && scan.contains("lang"),
        s"partition filter not pushed to the scan:\n$scan")
      assert(back.count() == docs.filter(col("lang") === "en").count())
      // within-partition sort clustered the file: any single part file
      // must be ascending in doc_id (row-group stats prune inside files)
      val part = new java.io.File(dir, s"lang=${langs.head}").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val ids = spark.read.parquet(part.getPath)
        .select("doc_id").collect().map(_.getLong(0))
      assert(ids.sameElements(ids.sorted),
        s"part file not sorted by doc_id: ${ids.take(5).mkString(",")}...")
      assert(spark.read.parquet(dir).count() == docs.count())
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("q65 CMS merge: estimates bounded, exact on this vocabulary, absent token zero") {
    val verified = ops.Relational6.q65Verified(spark, sf).collect()
    assert(verified.length == 10)
    verified.foreach { r =>
      assert(r.getAs[Boolean]("no_undercount"),
        s"token ${r.get(0)}: CMS undercounted — impossible, merge is broken")
      assert(r.getAs[Boolean]("bound_ok"),
        s"token ${r.get(0)}: CMS overshoot above the eps*N bound")
    }
    // ~30-token vocabulary in a 2000-cell sketch: no collisions, so the
    // merged estimate must be EXACT — a mismatch means the merge or the
    // estimate hash path diverged from the aggregate's add path
    val prod = ops.Relational6.q65Production(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    verified.foreach { r =>
      assert(prod(r.getString(0)) == r.getAs[Long]("exact_count"),
        s"token ${r.get(0)}: estimate ${prod(r.getString(0))} != exact")
    }
    assert(prod("zz_absent_token") == 0L)
  }

  test("s08 random projection preserves distance scale; recall honest on the isotropic fixture") {
    // the embeddings fixture is an ISOTROPIC gaussian (same-label and
    // cross-label mean distances are equal), so fine neighbor ranking
    // through ANY 16-dim projection is inherently weak — the honest
    // claims are (a) squared distances scale by ~k*Var(plane) = 16/3
    // (JL preserves geometry in expectation) and (b) top-10 recall
    // beats the random baseline 10/59. Both are deterministic here:
    // fixed planes, fixed fixture.
    val raw = Tables(spark, sf, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .orderBy("vec_id").limit(60).collect()
      .map(r => r.getSeq[Double](1).toArray)
    val proj = llm.Similarity.s08RandomProjection(spark, sf)
      .orderBy("vec_id").limit(60).collect()
      .map(r => (1 to 16).map(r.getDouble).toArray)
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val n = raw.length
    val pairs = for (a <- 0 until n; b <- a + 1 until n) yield (a, b)
    val ratios = pairs.map { case (a, b) => d2(proj(a), proj(b)) / d2(raw(a), raw(b)) }
      .sorted
    val median = ratios(ratios.length / 2)
    val kvar = 16.0 * (2001.0 * 2001.0 - 1) / 12 / 1e6 // 16 * Var(plane) ~ 5.34
    assert(median / kvar > 0.6 && median / kvar < 1.3,
      s"projected distance scale off: median ratio $median vs k*var $kvar")
    def top10(dm: (Int, Int) => Double, i: Int): Set[Int] =
      (0 until n).filter(_ != i).sortBy(j => dm(i, j)).take(10).toSet
    val dRaw = (i: Int, j: Int) => d2(raw(i), raw(j))
    val dPrj = (i: Int, j: Int) => d2(proj(i), proj(j))
    val recall = (0 until n)
      .map(i => (top10(dRaw, i) & top10(dPrj, i)).size / 10.0).sum / n
    assert(recall > 0.22, // random baseline: 10/59 ~ 0.17; measured 0.283
      s"projection recall $recall not above the random baseline")
  }

  test("s05 int8-quantized top-k stays close to the exact top-k") {
    // the 4x-narrower shuffle payload is only a win if recall holds:
    // per-query overlap between the quantized and exact top-10 sets
    val exact = llm.Similarity.s01BruteForceTopK(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val quant = llm.Similarity.s05QuantizedTopK(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    assert(quant.keySet === exact.keySet)
    val overlaps = exact.map { case (q, e) =>
      (quant(q) & e).size.toDouble / e.size
    }
    val mean = overlaps.sum / overlaps.size
    assert(mean > 0.8, f"mean top-10 overlap $mean%.3f — quantization too lossy")
  }

  test("s07 LSH-bucketed top-k recalls most of the exact top-5") {
    // angular LSH only pays off if close vectors actually collide in
    // some band: per-query overlap of the LSH top-5 with the exact one
    val exact = llm.Similarity.s01BruteForceTopK(spark, sf).collect()
      .filter(_.getInt(1) <= 5)
      .map(r => r.getLong(0) -> r.getLong(2))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val lsh = llm.Similarity.s07LshTopK(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val overlaps = exact.map { case (q, e) =>
      lsh.get(q).map(l => (l & e).size.toDouble / e.size).getOrElse(0.0)
    }
    val mean = overlaps.sum / overlaps.size
    assert(mean > 0.5, f"mean top-5 recall $mean%.3f — banding too lossy")
  }

  test("q45 band-join ±2-bucket fan-out is complete at ulp boundaries") {
    // the one numerically delicate join: bucket = floor(value*10) is
    // computed in floating point, and the scaladoc claims ±2 buckets
    // make the candidate set complete. Attack exactly that claim:
    // values a few ulps either side of every bucket edge, pairs exactly
    // band-width apart (the <= edge), and seeded noise — engine pair
    // set must equal the brute-force O(n²) reference.
    import spark.implicits._
    val boundaries = (-5 to 50).map(_ * 0.1)
    val adversarial = boundaries.flatMap { b =>
      (-3 to 3).map { u =>
        var v = b
        (1 to math.abs(u)).foreach { _ =>
          v = if (u > 0) Math.nextUp(v) else Math.nextDown(v)
        }
        v
      }
    }
    val edgePairs = boundaries.flatMap(b => Seq(b, b + 0.1, b - 0.1))
    val rnd = new scala.util.Random(42)
    val noise = Seq.fill(200)(rnd.nextDouble() * 6.0 - 1.0)
    val values = (adversarial ++ edgePairs ++ noise).toArray
    val df = values.zipWithIndex
      .map { case (v, i) => (i.toLong, "t", v) }.toSeq
      .toDF("event_id", "event_type", "value")
    val got = ops.AsOf.bandPairs(df, mult = 10, band = 0.1)
      .select("event_a", "event_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = (for {
      i <- values.indices.iterator
      j <- values.indices.iterator if i < j
      if math.abs(values(i) - values(j)) <= 0.1
    } yield (i.toLong, j.toLong)).toSet
    assert(got === expect,
      s"missing=${(expect -- got).take(5)} extra=${(got -- expect).take(5)}")
  }

  test("d02 digest dedup shuffles a fraction of d01's full-text bytes") {
    // d02's scale claim is that the dedup shuffle ships 16-byte digests
    // instead of documents. Measured, not asserted from the plan: total
    // shuffle-WRITE bytes across all tasks via a SparkListener, for the
    // two structurally-identical queries.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val sc = spark.sparkContext

    def totalShuffleWrite(df: org.apache.spark.sql.DataFrame): Long = {
      val bytes = new java.util.concurrent.atomic.AtomicLong(0)
      val listener = new SparkListener {
        override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
      sc.addSparkListener(listener)
      try {
        df.write.format("noop").mode("overwrite").save()
        var last = -1L
        var quiet = 0
        var spins = 0
        while (quiet < 2 && spins < 100) {
          val t = bytes.get()
          if (t == last && t > 0) quiet += 1 else quiet = 0
          last = t; spins += 1; Thread.sleep(100)
        }
        assert(bytes.get() > 0, "no shuffle-write bytes observed")
        bytes.get()
      } finally sc.removeSparkListener(listener)
    }

    val textBytes = totalShuffleWrite(llm.Dedup.d01ExactDedup(spark, sf))
    val digestBytes = totalShuffleWrite(llm.Dedup.d02HashDedup(spark, sf))
    // d02 also carries the hex digest through its output columns, so it
    // is not a strict 16-vs-300-byte ratio — but the document text must
    // be gone from the shuffle: well under half of d01's bytes
    assert(digestBytes * 2 < textBytes,
      s"digest dedup shuffled $digestBytes vs full-text $textBytes")
  }

  test("observe() accounting rides the existing action — no second pass") {
    // instrument the t14 gate stage: the rule-pass counts and the row
    // count must come out of the one action that computes the output,
    // and match what separate (re-scanning) queries would report
    val gated = llm.TextClean.t14RuleFilter(spark, sf)
    val (instrumented, obs) = ops.Observe.counted(
      gated, "t14_gates",
      "len" -> col("r_len"), "keep" -> col("keep"))
    val outRows = instrumented.collect().length
    val m = obs.get
    assert(m("rows") == outRows.toLong)
    assert(m("len_pass") == gated.filter(col("r_len")).count())
    assert(m("keep_pass") == gated.filter(col("keep")).count())
    // gates discriminate, so the accounting is non-trivial
    assert(m("keep_pass").asInstanceOf[Long] < m("rows").asInstanceOf[Long])
  }

  test("g01 PageRank: iterations run on the checkpointed graph, bounded shuffles") {
    val df = llm.Authority.g01PageRank(spark, sf)
    df.collect() // finalize AQE on THIS QueryExecution (see q68 note)
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    // the distinct-pairs shuffle must be paid once into the
    // localCheckpoint, not re-derived per iteration: no file scan may
    // survive into the iteration plan
    assert(!plan.toString.contains("FileSourceScan"),
      s"iterations must reuse the checkpointed edges/degrees:\n$plan")
    // each damped round is one contribution join + one dst partial agg;
    // with 3 rounds plus the presentation sort the keyed-shuffle count
    // stays O(iters), never O(edges)
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.length <= 10,
      s"expected <= 2 keyed shuffles per round + final sort:\n$plan")
  }

  test("g03 HITS: half-steps run on the checkpointed clicks, bounded shuffles") {
    // same contract as g01: the distinct-clicks shuffle is paid once
    // into the localCheckpoint; each of the 4 half-steps is one join +
    // one partial agg + a 1-row max broadcast, so the keyed-shuffle
    // count is O(rounds), never O(edges), and no file scan survives
    val df = llm.Authority.g03Hits(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    assert(!plan.toString.contains("FileSourceScan"),
      s"half-steps must reuse the checkpointed click list:\n$plan")
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.length <= 14,
      s"expected O(half-steps) keyed shuffles + final sort, got " +
        s"${exchanges.length}:\n$plan")
  }

  test("t19 BPE merges: trained at most once per corpus, served as one artifact scan") {
    // training (one corpus scan into the weighted-vocabulary
    // localCheckpoint, then eight rounds on the checkpoint — the g01
    // Pregel posture) runs inside the bpe-vocab artifact build, AT
    // MOST ONCE per corpus per deployment; the tokenizer is then a
    // SHIPPED model. The served t19 plan must therefore be a bare
    // artifact scan — no join, no round re-derivation — and a fresh
    // first-toucher (path cache forgotten = the next job's JVM) must
    // reuse the stored model across the WHOLE family with zero
    // retraining.
    val df = llm.Tokenizer.t19BpeMerges(spark, sf)
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = plan.toString.linesIterator
      .count(_.contains("FileScan"))
    assert(scans == 1, s"t19 must be ONE artifact scan:\n$plan")
    assert(plan.toString.linesIterator.forall(l =>
      !l.contains("FileScan") || l.contains("bpe-vocab")),
      s"t19's scan must read the vocabulary artifact, not the corpus:\n$plan")
    assert(!plan.toString.contains("Join"),
      s"the served merge table re-derives round work:\n$plan")
    llm.Tokenizer.bpeVocab.forget()
    val t0 = llm.Tokenizer.bpeVocab.builds.get()
    llm.Tokenizer.t19BpeMerges(spark, sf).collect()
    llm.Tokenizer.t20BpeEncode(spark, sf).collect()
    llm.Tokenizer.t21BpeFertility(spark, sf).collect()
    llm.Pipeline.p22BpePacking(spark, sf).collect()
    assert(llm.Tokenizer.bpeVocab.builds.get() == t0,
      "a matching fingerprint must reuse the shipped tokenizer — " +
        "the family retrained")
  }

  test("q68 incremental merge: co-partitioned, and the delta is the only recomputed part") {
    // the full-outer merge of the two partial aggregates must reuse
    // their hash partitioning on o_custkey — a third exchange before
    // the join would mean the merge re-shuffles what the aggregates
    // already co-located. Expected exchanges: one per aggregate side
    // plus the presentation ORDER BY range exchange.
    val df = ops.Relational6.q68IncrementalAgg(spark, sf)
    val plan = df.queryExecution.executedPlan
    def unwrap(p: org.apache.spark.sql.execution.SparkPlan):
        org.apache.spark.sql.execution.SparkPlan = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    val exchanges = unwrap(plan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.length <= 3,
      s"merge join must reuse the aggregates' partitioning:\n$plan")
    // and actions split as expected on the fixture: customers with only
    // pre-1998 orders, only 1998+ orders, and both must all exist
    val both = df.collect()
    assert(both.nonEmpty)
    val direct = Tables(spark, sf, "orders")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(both.length == direct.size)
    both.foreach { r =>
      assert(r.getAs[Long]("n_orders") == direct(r.getAs[Long]("custkey")))
    }
  }

  test("q67/q70: one keyed exchange serves every window pass") {
    // both queries claim their windows (lag+lead / last-ignoreNulls)
    // share a single user_id shuffle; the only other exchange allowed
    // is the presentation ORDER BY's range partitioning
    // q71's three chained conditional-min windows share the same
    // user_id partitioning and the final per-user aggregate reuses it,
    // so it makes the same one-keyed-exchange claim
    for (name <- Seq("q67_scd2", "q70_forward_fill", "q71_funnel")) {
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution
        .executedPlan
      val unwrapped = plan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case other => other
      }
      val shuffles = unwrapped.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.length <= 2,
        s"$name: expected <= 2 exchanges (user_id + ORDER BY), got " +
          s"${shuffles.length}:\n${unwrapped.toString.take(1500)}")
    }
  }

  test("q78 sweep line: no join in the concurrency core, bounded exchanges") {
    // the whole point of the sweep is replacing the interval self-join:
    // the only joins allowed are the equi-joins assembling the interval
    // frame (orders⋈lineitem⋈customer) and the broadcast nation-name
    // lookup — nothing non-equi, nothing nested-loop — and the delta →
    // running-sum → peak chain must ride nation-keyed exchanges, not
    // per-window re-shuffles
    val plan = ops.Relational8.q78PeakConcurrent(spark, sf)
      .queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val nodes = plan.collectWithSubqueries { case p => p.nodeName }
    assert(!nodes.exists(n => n.contains("CartesianProduct") ||
      n.contains("BroadcastNestedLoopJoin")),
      s"q78 must not plan a non-equi join: ${nodes.toSet}")
    val shuffles = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // orderkey agg + delta-union agg/window keyed by nation + final
    // nation agg + presentation sort — anything beyond that means a
    // window pass stopped sharing its exchange
    assert(shuffles.length <= 5,
      s"q78: expected <= 5 exchanges, got ${shuffles.length}")
  }

  test("q76 plan: dims broadcast, correlated MIN de-correlates to one agg join") {
    // the TPC-H Q2 shape has two scale requirements: every dim lookup
    // (part/supplier/nation/region, both in the outer query and inside
    // the regional-minimum derivation) broadcasts, and the correlated
    // scalar MIN must be rewritten to a de-correlated aggregate joined
    // back on partkey — ONE keyed join, never a per-row subquery or a
    // nested-loop shape
    val plan = ops.Relational8.q76MinCostSupplier(spark, sf)
      .queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val nodes = plan.collectWithSubqueries { case p => p.nodeName }
    assert(!nodes.exists(n => n.contains("CartesianProduct") ||
      n.contains("BroadcastNestedLoopJoin") || n.contains("Subquery")),
      s"q76 must plan no nested-loop join and no residual subquery: ${nodes.toSet}")
    val joins = nodes.filter(_.contains("Join"))
    assert(joins.count(_.contains("BroadcastHashJoin")) >= 6,
      s"q76's dim lookups should all broadcast: $joins")
    // the only non-broadcast join allowed is the de-correlated minimum
    // joining back to the supply aggregate on partkey
    assert(joins.count(!_.contains("BroadcastHashJoin")) <= 1,
      s"q76: more than one shuffled join — decorrelation regressed: $joins")
  }

  test("q77 window state is bounded by true distinct count, not row multiplicity") {
    import spark.implicits._
    // skewed synthetic frame: ONE part with 10,000 lineitem rows packed
    // into one week but only 3 distinct suppliers. The contract that
    // keeps q77 viable at scale: (a) the daily-grain dedup runs BELOW
    // the window, so frame input collapses to ≤ days × distinct
    // suppliers rows; (b) collect_set state per row is then ≤ the true
    // distinct supplier count (3), regardless of the 10k multiplicity.
    // If a key's distinct-per-frame ever stops being tiny, the scaladoc'd
    // escape hatch (invertible new/expired deltas) replaces the set.
    val tmp = java.nio.file.Files.createTempDirectory("q77-skew")
    val base = java.time.LocalDate.of(1995, 1, 1)
    (0 until 10000).map { i =>
      (1L, java.sql.Date.valueOf(base.plusDays(i % 7)), (i % 3 + 1).toLong)
    }.toDF("l_partkey", "l_shipdate", "l_suppkey")
      .coalesce(1).write.mode("overwrite")
      .parquet(tmp.resolve("lineitem.parquet").toString)
    val q = ops.Relational8.q77RollingDistinct(spark, tmp.toString)
    val plan = q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    // (a) structurally: the window's child subtree contains the
    // 3-key dedup aggregate — multiplicity dies before the frame
    val win = plan.collectFirst {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.getOrElse(fail("q77 plans no WindowExec"))
    val dedupBelow = win.child.collect {
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec
        if h.groupingExpressions.length == 3 && h.aggregateExpressions.isEmpty => h
    }
    assert(dedupBelow.nonEmpty,
      "q77's window must consume the (part, day, supplier)-deduped grain")
    // (b) arithmetically: window input is 21 rows (7 days × 3
    // suppliers), and no frame's set ever exceeds the true distinct 3
    val rows = q.collect()
    assert(rows.length == 7, s"daily grain: expected 7 rows, got ${rows.length}")
    assert(rows.map(_.getAs[Long]("supp_7d")).max == 3L,
      "frame set state must cap at the true distinct supplier count")
    val dedupCount = Tables(spark, tmp.toString, "lineitem")
      .select("l_partkey", "l_shipdate", "l_suppkey").distinct().count()
    assert(dedupCount == 21L,
      s"window input must be days×suppliers = 21 rows, got $dedupCount")
  }

  test("q80 plan: summaries materialize once, corpus scans stay bounded") {
    // the CTE-inlining failure mode this guards against: the first cut
    // re-ran the lineitem⋈part subtree once per CTE reference (16 s at
    // sf0.1). The fixed form localCheckpoints the summary-sized frames,
    // so the RETURNED plan must (a) contain checkpoint-RDD leaves where
    // the summaries feed back in, (b) scan the lineitem parquet a
    // bounded number of times (exact companion + rank check — the
    // summary build's scan lives behind the checkpoint), and (c) join
    // only with equi joins (the band-join formulation is quadratic in
    // summary size and lives only in the oracle as an independent
    // derivation).
    val plan = ops.Relational8.q80GroupedQuantiles(spark, sf)
      .queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val nodes = plan.collectWithSubqueries { case p => p.nodeName }
    assert(!nodes.exists(n => n.contains("CartesianProduct") ||
      n.contains("BroadcastNestedLoopJoin")),
      s"q80 must not plan the band join: ${nodes.toSet}")
    val checkpointLeaves = plan.collectWithSubqueries {
      case s: org.apache.spark.sql.execution.RDDScanExec => s
    }
    assert(checkpointLeaves.nonEmpty,
      "q80's summaries must feed from materialized checkpoints, not " +
        "re-run their corpus subtree per reference")
    val lineitemScans = plan.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("lineitem"))
        => f
    }
    assert(lineitemScans.length <= 3,
      s"q80 re-scans lineitem ${lineitemScans.length}x — CTE-style " +
        "re-evaluation crept back")
  }

  test("s19 refine plan: exact-stage joins broadcast the pool, vector scans stay bounded") {
    // the two-stage contract: the exact cosine must join the POOL
    // (Q·32 rows) against the vector table with the pool side
    // broadcast — a shuffled join there repartitions the whole corpus
    // to serve 4k lookups, which is the shape that dies at 100 TB.
    // Execute once so AQE's final plan (where the broadcast decision
    // lands) is what gets pinned.
    val df = llm.Similarity.s19PqRerank(spark, sf)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val nodes = plan.collectWithSubqueries { case p => p.nodeName }
    val shuffledJoins = nodes.filter(n =>
      n.contains("SortMergeJoin") || n.contains("ShuffledHashJoin"))
    assert(shuffledJoins.isEmpty,
      s"s19 shuffles a join that should broadcast the pool: $shuffledJoins " +
        s"(all: ${nodes.groupBy(identity).map { case (k, v) => s"$k=${v.size}" }.toSeq.sorted})")
    // the refine-stage vector fetch reads the INDEX, not the corpus:
    // the corpus (embeddings) scans left are stage 1's only (codes +
    // LUT + seed subtrees), and the full-precision refine vectors come
    // off the stored cell-major inverted lists
    val embScans = plan.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("embeddings"))
        => f
    }
    assert(embScans.length <= 3,
      s"s19 scans embeddings ${embScans.length}x — the refine fetch " +
        "must read the index artifact, stage 1 must not re-evaluate")
    val idxScans = plan.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("ivf-index"))
        => f
    }
    assert(idxScans.nonEmpty,
      "s19's refine fetch must read the stored inverted lists")
    // and the fetch frame itself touches ONLY index partitions — the
    // corpus table is absent from the refine subtree wholesale
    val fetchScans = llm.Similarity.indexVectorFetch(spark, sf)
      .queryExecution.sparkPlan.collectWithSubqueries {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
    assert(fetchScans.nonEmpty)
    assert(fetchScans.forall(_.relation.location.rootPaths
        .forall(_.toString.contains("ivf-index"))),
      "the refine vector fetch must read the index artifact only")
  }

  test("p18 selection plan: no global single-partition window anywhere") {
    // the DSIR top-k flag must come from the broadcast k-th threshold,
    // never from a ROW_NUMBER() OVER (ORDER BY ...) global window — a
    // single-partition window is the one shape that serializes the
    // whole corpus through one task at 100 TB
    val plan = llm.Pipeline.p18DsirResample(spark, sf)
      .queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val windows = plan.collectWithSubqueries {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "p18 plans a partition-less (global) window")
    // and the k-th threshold rides TakeOrdered, not a full sort
    val nodes = plan.collectWithSubqueries { case p => p.nodeName }
    assert(nodes.exists(_.contains("TakeOrderedAndProject")),
      s"p18's top-k threshold should plan as TakeOrderedAndProject: ${nodes.toSet}")
  }

  test("s10 probe plan: reads the stored index, nothing corpus-shaped") {
    // the persisted-index claim: the corpus-sized pipeline (tokenize →
    // (doc,dl,term) tf aggregate → term-keyed df window) ran ONCE at
    // build time and lives in the artifact; the probe plan must
    // contain none of it — a postings scan ⋈ broadcast query terms,
    // plus only the candidate-sized exchanges the algorithm owns
    // ((query,doc) score sum, per-query window, presentation sort).
    // Every join broadcast-hash, never sort-merge/shuffle-hash (a
    // sort-merge join here would mean a corpus-sized exchange keyed by
    // term against the query list).
    val plan = SparkEntry.queries("s10_bm25_topk")(spark, sf)
      .queryExecution.executedPlan
    val unwrapped = plan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    val nodes = unwrapped.collectWithSubqueries { case p => p.nodeName }
    assert(!nodes.exists(_.contains("SortMergeJoin")) &&
      !nodes.exists(_.contains("ShuffledHashJoin")),
      s"s10 plans a shuffled join: ${nodes.toSet}")
    assert(nodes.count(_.contains("BroadcastHashJoin")) >= 1,
      "s10 should broadcast the query terms into the postings")
    // the totals frame arrives via the artifact's 1-row parquet scan;
    // keyed exchanges must be candidate-sized only
    val shuffles = unwrapped.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if !e.outputPartitioning.toString.contains("SinglePartition") => e
    }
    val corpusAggs = shuffles.count { e =>
      e.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          h.expressions.collect {
            case a: org.apache.spark.sql.catalyst.expressions.Attribute => a.name
          }.toSet == Set("doc_id", "dl", "term")
        case _ => false
      }
    }
    assert(corpusAggs == 0,
      s"s10 probe must NOT rebuild the postings (the artifact owns the " +
        s"corpus aggregate), got $corpusAggs:\n${unwrapped.toString.take(1500)}")
    assert(shuffles.length <= 4,
      s"s10: expected <= 4 keyed exchanges (score, topk window, order), " +
        s"got ${shuffles.length}:\n${unwrapped.toString.take(1500)}")
    // the index itself is read off disk, postings + totals
    val scans = unwrapped.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.exists(_.relation.location.rootPaths
        .exists(_.toString.contains("postings"))),
      "s10 must scan the persisted postings artifact")
    // build-once: s10 + s13 after a path-cache reset reuse the stored
    // index with zero further builds (cross-process reuse contract)
    llm.Retrieval.bm25Index.forget()
    val before = llm.Retrieval.bm25Index.builds.get()
    SparkEntry.queries("s10_bm25_topk")(spark, sf).collect()
    SparkEntry.queries("s13_hybrid_rrf")(spark, sf).collect()
    assert(llm.Retrieval.bm25Index.builds.get() == before,
      "a matching fingerprint must reuse the stored BM25 index")
  }

  test("t17 plan: one shingle window pass, no joins") {
    // the d15/s10 lesson as a contract: the first-occurrence label is a
    // window over the exploded shingle stream, NOT a groupBy+join-back
    // (which would pay the corpus explode and a wide-key exchange
    // twice). The plan must contain zero joins and exchange the
    // corpus-sized frame exactly once (on sg); everything after keys by
    // doc_id.
    val plan = SparkEntry.queries("t17_novelty")(spark, sf)
      .queryExecution.executedPlan
    val unwrapped = plan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    val nodes = unwrapped.collectWithSubqueries { case p => p.nodeName }
    assert(!nodes.exists(_.contains("Join")),
      s"t17 must be join-free: ${nodes.toSet}")
    val shingleExchanges = unwrapped.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.count { e =>
      e.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          h.expressions.collect {
            case a: org.apache.spark.sql.catalyst.expressions.Attribute => a.name
          }.toSet == Set("sg")
        case _ => false
      }
    }
    assert(shingleExchanges == 1,
      s"t17: the shingle stream must shuffle exactly once, got " +
        s"$shingleExchanges:\n${unwrapped.toString.take(1200)}")
  }

  test("dynamic partition pruning: a dim filter prunes the fact scan at runtime") {
    // the 100 TB pattern behind every partitioned fact table: the
    // WHERE lives on the dimension side, so static pruning can't see
    // it — Spark must inject the dim's join keys as a runtime partition
    // filter (DPP). Without it, a lang-filtered join over a
    // lang-partitioned corpus scans every partition.
    val dir = java.nio.file.Files.createTempDirectory("dpp").toString + "/docs"
    try {
      io.Store.writePartitionedParquet(
        Tables(spark, sf, "documents"), dir, Seq("lang"), Seq("doc_id"))
      val fact = spark.read.parquet(dir)
      // the dim predicate must be on a NON-join column: a filter on the
      // join key itself is propagated statically by constraint
      // inference (no DPP needed) — only a runtime-valued filter forces
      // the dynamic subquery
      val dim = Tables(spark, sf, "documents")
        .filter(col("source") === "src1")
        .select(col("lang")).distinct()
      val joined = fact.join(dim, "lang")
      val rows = joined.collect().length.toLong // same-frame execution
      // the scan must carry a dynamicpruning PartitionFilter...
      val leaves = joined.queryExecution.executedPlan.collectLeaves()
      val factScan = leaves.map(_.toString).find(_.contains("PartitionFilters"))
      assert(factScan.exists(_.contains("dynamicpruning")),
        s"no dynamic pruning filter on the fact scan:\n${factScan.getOrElse("")}")
      // ...and the result must equal the statically-computed join
      val langs = Tables(spark, sf, "documents")
        .filter(col("source") === "src1")
        .select("lang").distinct().collect().map(_.getString(0)).toSet
      assert(rows == Tables(spark, sf, "documents")
        .filter(col("lang").isin(langs.toSeq: _*)).count())
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(dir).getParentFile)
    }
  }

  test("q69 merge upsert: all three MERGE arms fire and keys stay unique") {
    val out = ops.Relational6.q69MergeUpsert(spark, sf).collect()
    val byAction = out.groupBy(_.getAs[String]("action")).view.mapValues(_.length)
    for (a <- Seq("insert", "update", "carryover"))
      assert(byAction.getOrElse(a, 0) > 0, s"MERGE arm '$a' never fired")
    val keys = out.map(_.getAs[Long]("custkey"))
    assert(keys.distinct.length == keys.length, "duplicate keys after merge")
  }

  test("z-order layout bounds BOTH dimensions per file; linear sort only one") {
    // the claim behind q66/Store.zorderKey: range-splitting the Morton
    // curve into files keeps each file a small quad of the
    // (ship-day, partkey) plane, so min/max stats prune scans on EITHER
    // column; a plain shipdate sort leaves partkey unbounded per file.
    // Measured on the real files via input_file_name(), not asserted
    // from theory.
    // the zorderKey contract says callers quantize first: both dims are
    // scaled to the same 12-bit width from their GLOBAL min/max (a
    // 2500-day dim interleaved raw with a 200-value dim would put all
    // the top curve bits on the wide dim and degenerate to a linear
    // sort on it)
    val days = datediff(col("l_shipdate"), lit("1995-01-01"))
    val raw = Tables(spark, sf, "lineitem")
      .select(col("l_partkey"), days.as("d"))
    val dom = raw.agg(min(col("d")), max(col("d")),
      min(col("l_partkey")), max(col("l_partkey"))).collect()(0)
    val (dLo, dHi) = (dom.getInt(0), dom.getInt(1))
    val (pLo, pHi) = (dom.getLong(2), dom.getLong(3))
    def quant(c: org.apache.spark.sql.Column, lo: Long, hi: Long) =
      (c.cast("long") - lo) * 4096L / (hi - lo + 1L)
    val li = raw.withColumn("zkey", io.Store.zorderKey(
      quant(col("d"), dLo, dHi), quant(col("l_partkey"), pLo, pHi)))
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    try {
      li.repartitionByRange(8, col("zkey")).sortWithinPartitions(col("zkey"))
        .write.mode("overwrite").parquet(s"$dir/z")
      li.repartitionByRange(8, col("d")).sortWithinPartitions(col("d"))
        .write.mode("overwrite").parquet(s"$dir/linear")
      // avg fraction of each dimension's global range a single file spans
      def coverage(path: String): (Double, Double) = {
        val ranges = spark.read.parquet(path)
          .groupBy(input_file_name())
          .agg((max(col("d")) - min(col("d"))).as("dr"),
            (max(col("l_partkey")) - min(col("l_partkey"))).as("pr"))
          .collect()
        val (dDom, pDom) = ((dHi - dLo).toDouble, (pHi - pLo).toDouble)
        (ranges.map(_.getAs[Int]("dr")).sum.toDouble / ranges.length / dDom,
          ranges.map(_.getAs[Long]("pr")).sum.toDouble / ranges.length / pDom)
      }
      val (zDay, zPart) = coverage(s"$dir/z")
      val (lDay, lPart) = coverage(s"$dir/linear")
      // linear: near-perfect on the sort key, useless on the other
      assert(lDay < 0.25, s"linear layout should bound ship-day: $lDay")
      assert(lPart > 0.9, s"linear layout can't bound partkey: $lPart")
      // z-order: BOTH dimensions bounded well below the full domain
      assert(zDay < 0.75 && zPart < 0.75,
        s"z-order should bound both dims: day=$zDay part=$zPart")
      assert(zPart < lPart / 2,
        s"z-order partkey coverage $zPart not << linear $lPart")
    } finally rm(new java.io.File(dir))
  }

  test("AQE skew join splits the hot partition at runtime") {
    // q48's salting is the MANUAL skew remedy; the platform remedy is
    // AQE's OptimizeSkewedJoin, which observes the actual partition
    // sizes after the shuffle map stage and splits oversized partitions
    // into parallel sub-joins — no salt column, no query rewrite. At
    // 100 TB this is the default posture (salting is reserved for keys
    // so hot that even split sub-partitions overwhelm a task). The prod
    // thresholds are sized for clusters (256 MB), so a child session
    // lowers them to observe the mechanism at test scale; broadcast is
    // off because the skewed side must actually shuffle.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s2.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    import s2.implicits._
    // 100k fact rows, half on key 1 (+ payload so the hot partition
    // clears the byte threshold), dim covering all keys
    val fact = s2.range(100000).select(
      when(col("id") % 2 === 0, lit(1L)).otherwise(col("id") % 500)
        .as("k"),
      concat(lit("x" * 64), col("id")).as("payload"))
    val dim = s2.range(500).select(col("id").as("k"),
      concat(lit("d"), col("id")).as("dname"))
    val joined = fact.join(dim, "k")
    // execute THIS frame's own QueryExecution (a write/count would plan
    // its own copy and leave this one isFinalPlan=false), then read the
    // adaptively replanned join back out of it
    val n = joined.collect().length
    val finalPlan = joined.queryExecution.executedPlan.toString
    assert(finalPlan.contains("skew=true"),
      s"AQE did not mark the skewed join:\n${finalPlan.take(3000)}")
    // and the runtime split is transparent: same rows as the plain join
    assert(n == 100000)
  }

  test("salted join actually spreads a hot key across tasks") {
    // Skew.saltedEquiJoin is row-identity-verified in IoParitySpec; this
    // is the SCALE claim: with a key holding 50% of the fact rows, the
    // plain shuffled join funnels that key into one task while the
    // salted join spreads it ~salt-fold. Measured, not asserted from
    // the plan: per-task shuffle-read record counts via a SparkListener,
    // AQE + broadcast off so nothing else rebalances the skew.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val sc = spark.sparkContext

    def maxTaskShare(df: org.apache.spark.sql.DataFrame): Double = {
      val byStage = scala.collection.concurrent.TrieMap
        .empty[Int, scala.collection.mutable.ArrayBuffer[Long]]
      val listener = new SparkListener {
        override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) byStage.synchronized {
            byStage.getOrElseUpdate(te.stageId,
              scala.collection.mutable.ArrayBuffer.empty[Long]) +=
              m.shuffleReadMetrics.recordsRead
          }
        }
      }
      sc.addSparkListener(listener)
      try {
        df.write.format("noop").mode("overwrite").save()
        // the listener bus is async — wait for events to arrive at all,
        // then for the totals to stay quiet two consecutive samples
        // (a single quiet 100ms sample can race a paused bus)
        def total = byStage.synchronized(byStage.values.map(_.sum).sum)
        var last = -1L
        var quiet = 0
        var spins = 0
        while (quiet < 2 && spins < 100) {
          val t = total
          if (t == last && t > 0) quiet += 1 else quiet = 0
          last = t; spins += 1; Thread.sleep(100)
        }
        assert(byStage.synchronized(byStage.nonEmpty),
          "no TaskEnd events observed within 10s")
        val recs = byStage.synchronized(byStage.values.maxBy(_.sum).toSeq)
        recs.max.toDouble / recs.sum
      } finally sc.removeSparkListener(listener)
    }

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      // 40k fact rows, half of them on key 1, the rest ~40/key
      val fact = spark.range(40000).select(
        when(col("id") % 2 === 0, lit(1L))
          .otherwise(pmod(col("id"), lit(1000)) + 2).as("k"),
        col("id").as("payload"))
      val dim = spark.range(1002).select(
        col("id").as("dk"), (col("id") * 7).as("dpayload"))

      val plainShare = maxTaskShare(
        fact.join(dim, col("k") === col("dk")))
      val saltedShare = maxTaskShare(
        ops.Skew.saltedEquiJoin(fact, dim, col("k"), col("dk"), salt = 8))

      assert(plainShare > 0.4,
        f"fixture not hot enough: plain max-task share $plainShare%.2f")
      assert(saltedShare < 0.3,
        f"salted max-task share $saltedShare%.2f — hot key not spread")
      assert(saltedShare < plainShare / 1.8,
        f"salting only improved $plainShare%.2f -> $saltedShare%.2f")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
  }

  test("bucketed tables join without an exchange on the fact side") {
    val li = Tables(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity")
    val ord = Tables(spark, sf, "orders")
      .select("o_orderkey", "o_totalprice")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_bucketed")
    ord.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("ord_bucketed")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val joined = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
      val physical = joined.queryExecution.executedPlan.toString
      assert(!physical.contains("Exchange"),
        s"bucket-aligned join must not shuffle:\n$physical")
      assert(joined.count() === li.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("s04 custom physical top-k equals s01 exactly, with zero exchanges") {
    val custom = llm.Similarity.s04CustomPlanTopK(spark, sf)
    val physical = custom.queryExecution.executedPlan.toString
    assert(physical.contains("CosineTopK")) // exec node name strips "Exec"
    val a = llm.Similarity.s01BruteForceTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val b = custom.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(a.sameElements(b))
    // the operator itself introduces no exchange; the only one allowed
    // is the final presentation orderBy
    val beforeSort = llm.Similarity.s04CustomPlanTopK(spark, sf)
      .queryExecution.executedPlan.toString
    assert(beforeSort.split("Exchange").length - 1 <= 1)
  }

  test("s06: declarative window top-k auto-rewrites to the custom operator") {
    val df = llm.Similarity.s06AutoRewrite(spark, sf)
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("CosineTopK"),
      s"CosineTopKRewrite did not fire:\n$physical")
    // same answer as the window form, bit for bit
    val a = llm.Similarity.s01BruteForceTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val b = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(a.sameElements(b))
    // the rewrite lives in s06's child session only: s01 in THIS session
    // must keep its window plan (it is the declared quadratic baseline)
    val baseline = llm.Similarity.s01BruteForceTopK(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!baseline.contains("CosineTopK"))
  }

  test("PruneCosineTopKChildren: wide children prune back to 2-column scans") {
    // pass the FULL embeddings table (3 columns incl. label): the rule
    // must cut the scans down to (vec_id, embedding)
    val v = Tables(spark, sf, "embeddings")
    val df = plans.CosineTopK.topK(v, v, 5)
    val scan = df.queryExecution.executedPlan.toString
    assert(!scan.contains("label"), s"label survived pruning:\n$scan")
    val narrow = plans.CosineTopK
      .topK(v.select("vec_id", "embedding"), v.select("vec_id", "embedding"), 5)
    assert(df.collect().toSeq === narrow.collect().toSeq)
  }

  test("d07 connected components: edges stay intra-cluster, labels are minima") {
    val pairs = llm.Dedup.d03MinHashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val clusters = llm.DupClusters.d07DupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.foreach { case (a, b) =>
      assert(clusters(a) === clusters(b), s"edge ($a,$b) split")
    }
    clusters.foreach { case (doc, c) => assert(c <= doc) }
    // every cluster label is itself a member of the cluster
    clusters.values.toSet.foreach { c: Long => assert(clusters(c) === c) }
  }

  test("q40 stats match a driver-side two-pass computation") {
    val got = ops.Relational3.q40Stats(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val rows = Tables(spark, sf, "customer")
      .select("c_mktsegment", "c_acctbal").collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    rows.groupBy(_._1).foreach { case (seg, xs) =>
      val vals = xs.map(_._2)
      val mean = vals.sum / vals.length
      val sd = math.sqrt(
        vals.map(v => (v - mean) * (v - mean)).sum / (vals.length - 1))
      val (gMean, gSd) = got(seg)
      assert(math.abs(gMean - mean) < 1e-6, s"$seg mean")
      assert(math.abs(gSd - sd) < 1e-6, s"$seg sd")
    }
  }

  test("q30 as-of join: every event matches the latest prior order") {
    val got = ops.AsOf.q30AsOfJoin(spark, sf).collect()
    assert(got.length === Tables(spark, sf, "events").count())
    // spot-check one matched row against a driver-side recompute
    val matched = got.filter(!_.isNullAt(3))
    assert(matched.nonEmpty)
    val r = matched.head
    val (eventUser, eventTs) = (r.getLong(1), r.getTimestamp(2))
    val expect = Tables(spark, sf, "orders")
      .filter(col("o_custkey") === eventUser &&
        col("o_orderdate") <= lit(eventTs))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      .select("o_orderkey").collect().head.getLong(0)
    assert(r.getLong(3) === expect)
  }

  test("q73 forward as-of: every view matches the nearest following purchase") {
    val got = ops.AsOf.q73AsOfForward(spark, sf).collect()
    assert(got.length === Tables(spark, sf, "events")
      .filter(col("event_type") === "view").count())
    // both arms fire: mid-stream views match, trailing views don't
    val matched = got.filter(!_.isNullAt(3))
    assert(matched.nonEmpty)
    assert(got.exists(_.isNullAt(3)))
    // full differential: every matched row equals a driver-side
    // recompute of "this user's earliest purchase at-or-after ts"
    val purchases = Tables(spark, sf, "events")
      .filter(col("event_type") === "purchase")
      .select("user_id", "ts", "event_id").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
    got.foreach { r =>
      val (user, ts) = (r.getLong(1), r.getTimestamp(2))
      val next = purchases.filter(p => p._1 == user && !p._2.before(ts))
      if (r.isNullAt(3)) assert(next.isEmpty)
      else {
        // full-precision nanos key (getTime alone truncates to millis)
        def k(t: java.sql.Timestamp) =
          t.getTime / 1000 * 1000000000L + t.getNanos
        val best = next.minBy(p => (k(p._2), -p._3))
        assert(r.getLong(3) === best._3)
      }
    }
  }

  test("plan lint: no cartesian/nested-loop join outside the documented quadratic ops") {
    // the intentionally-quadratic similarity baselines, the IVF
    // centroid fan-out, and t05's broadcast 1-row corpus-size frame are
    // the only places a BroadcastNestedLoopJoin is allowed; a cartesian
    // product is never allowed. Guards against a future query silently
    // planning an accidental cross join at 100 TB.
    val quadraticByDesign = Set("s01_cosine_topk", "s02_ivf_topk",
      "s34_ivf_provisioned", // √n-provisioned centroid fan-out: n·√n train/rank (the measured provisioning lever), probe joins are keyed — not n²
      "s03_topk_aggregate", "s05_quantized_topk", "d06_embedding_near_dup",
      "s09_pq_topk", // ADC scan: every 8-byte code row scored vs broadcast LUTs
      "s19_pq_rerank", // s09's ADC scan feeding the pool; the re-rank joins are keyed
      "s20_ivfpq_search", // s02's 16-centroid broadcast fan-out; ADC + refine joins are keyed
      "s21_pq_index_search", // same query-side centroid fan-out; scoring reads stored codes
      "s22_incremental_pq", // batch × 16 stored centroids (q·K); ADC + refine joins are keyed
      "s23_recall_audit", // ground truth is DEFINITIONALLY exact all-pairs (offline audit)
      "s25_nprobe_sweep", // s21's centroid fan-out + the same exact-truth audit pass
      "s26_filtered_ivfpq", // s21's centroid fan-out; labels join at pool scale
      "s27_label_partitioned", // same centroid fan-out; the label filter prunes partitions (own pin)
      "s28_residual_pq", // s21's centroid fan-out + the 16-cell qc broadcast (16·Q, not n²)
      "s29_sq8_search", // s21's centroid fan-out + the 1-row params broadcast, like t05
      "s30_bq_search", // s21's centroid fan-out + the Q-row query-bits broadcast
      "s31_range_search", // same fan-out; the radius cut is a pure filter (no window)
      "s32_tombstone_search", // s15's loaded-centroid fan-out (q·K); the tombstone cut is a broadcast anti-join (own pin)
      // (s24_recall_retrain needs no entry: its returned frame is the
      // 2-row audit report — the serving/truth chains execute inside
      // storedIvfPqServe/exactTruth10, already covered above)
      "s11_maxsim_topk", // coarse stage: flat centroid scan vs broadcast queries
      "s12_bitext_margin", // all-pairs mining baseline (scale path: s12b)
      "s12b_bitext_bucketed", // the s02 IVF fan-out (16 broadcast centroids), not n² — see its dedicated BNLJ pin
      "s12c_bitext_provisioned", // s34's √n centroid fan-out; candidate pairs join keyed on cell (≈9/k of n², shrinking relative to n²)

      "d11_semdedup", // the s02 IVF fan-out (16 broadcast centroids), not n²
      "d21_semdedup_provisioned", // s34's √n centroid fan-out (n·√n); within-cell pairs join keyed on cell
      "s14_hard_negatives", // s02's IVF fan-out + label post-filter, not n²
      "s15_index_probe", // query batch × 16 LOADED centroids (q·K, no training)
      "s16_incremental_index", // batch × 16 stored centroids (q·K, no retrain)
      "s17_incremental_bm25", // s10's 1-row totals broadcast, segment-merged
      "p05_mixture_rebalance", // 1-row global-min frame broadcast, like t05
      "p09_epoch_mixing", // 1-row global-max frame broadcast, like p05
      "t05_tfidf", "t09_surprisal", // 1-row corpus-total broadcast frames
      "t18_quality_distill", // 1-row prior-threshold broadcast frame, like t05
      "p18_dsir_resample", // 1-row k-th-threshold broadcast frame, like p05
      "p19_doremi_weights", // 1-row avg/normalizer frames per MW round + t09's totals frame
      "t13_corpus_drift", // 1-row grand-total broadcast frame, like t05
      "s10_bm25_topk", // 1-row (N, total-tokens) broadcast frame, like t05
      "s33_bm25_delete", // s10's 1-row totals broadcast; the tombstone cut is a keyed anti-join
      "s13_hybrid_rrf", // s10's totals frame + the broadcast query fan-out (q·n, not n²)
      "g03_hits", // 4 half-step renorms, each a 1-row max-frame broadcast
      "q65_cms_freq", // 1-row merged-sketch broadcast onto the probe list
      "q79_quantile_sketch") // summary×summary merge join (≤33 pts/month) + 1-row pick/exact frames — sketch-sized, never corpus-sized
    SparkEntry.queries.foreach { case (name, fn) =>
      // AQE wraps the whole plan in a LeafExecNode; collect* would see
      // only {"AdaptiveSparkPlan"} without the unwrap
      val plan = fn(spark, sf).queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val nodes = plan.collectWithSubqueries { case p => p.nodeName }.toSet
      assert(!nodes.exists(_.contains("CartesianProduct")),
        s"$name plans a CartesianProduct")
      if (!quadraticByDesign(name))
        assert(!nodes.exists(_.contains("BroadcastNestedLoopJoin")),
          s"$name plans a BroadcastNestedLoopJoin: $nodes")
    }
  }

  test("scan parallelism: multi-part dirs split per file; maxPartitionBytes subdivides") {
    // The fixtures are single-part files, so the bench never exercises
    // Spark's file-splitting — this pins the contract the 100 TB path
    // relies on: a multi-part directory scans in parallel (split count
    // tracks cores while files are tiny), and once
    // spark.sql.files.maxPartitionBytes drops below the file size every
    // file yields multiple splits (parquet subdivides at row-group
    // boundaries). Both knobs are per-read session confs; nothing in
    // graft.Tables blocks them. Measured here (local[4], 8 files of
    // ~20 KB): defaults -> 4 splits, 16 KB maxPartitionBytes -> 16.
    val dir = java.nio.file.Files.createTempDirectory("graft_parts").toString
    Tables(spark, sf, "lineitem").repartition(8)
      .write.mode("overwrite").parquet(s"$dir/li8")
    val conf = spark.conf
    val oldMax = conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    try {
      conf.set("spark.sql.files.maxPartitionBytes", "134217728")
      val coarse = spark.read.parquet(s"$dir/li8").rdd.getNumPartitions
      assert(coarse >= 2,
        s"a multi-part dir must scan in parallel, got $coarse partitions")
      conf.set("spark.sql.files.maxPartitionBytes", "16384")
      val fine = spark.read.parquet(s"$dir/li8").rdd.getNumPartitions
      assert(fine >= 8 && fine > coarse,
        s"16 KB maxPartitionBytes should split per-file and finer: " +
          s"$fine vs $coarse")
    } finally {
      conf.set("spark.sql.files.maxPartitionBytes", oldMax)
    }
  }

  test("scan lint: filters push into the parquet scan, columns prune") {
    // q01: the shipdate predicate must reach the lineitem scan, and the
    // scan must not read columns the query never touches (l_comment is
    // in the fixture schema but not in the query)
    val plan = ops.Relational.q01PricingSummary(spark, sf)
      .queryExecution.executedPlan match {
      // AQE wraps the real plan; collect() does not descend into it
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val li = scans.find(_.tableIdentifier.toString.contains("lineitem"))
      .getOrElse(scans.head)
    assert(li.dataFilters.nonEmpty || li.metadata.get("PushedFilters")
      .exists(_ != "[]"), "no pushed/data filters on the lineitem scan")
    val readCols = li.output.map(_.name).toSet
    assert(!readCols.contains("l_comment"),
      s"scan reads unreferenced column l_comment: $readCols")
  }

  test("partitioned write prunes partitions on read") {
    val dir = java.nio.file.Files.createTempDirectory("events-part").toString
    Tables(spark, sf, "events")
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val one = spark.read.parquet(dir)
      .filter(col("event_type") === "click")
    val plan = one.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scan = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    // the partition filter must reach the scan: only the click
    // directory is listed, the other event types are never touched
    assert(scan.partitionFilters.nonEmpty,
      "no partition filters on the scan — full-table read")
    val expected = Tables(spark, sf, "events")
      .filter(col("event_type") === "click").count()
    assert(one.count() === expected)
  }

  test("s02 IVF recall vs exact top-5 is substantial") {
    // IVF is approximate by design (nprobe=3 of 16 cells); recall
    // against the exact answer is the quality metric that decides
    // whether the 100 TB path is usable. The fixture vectors are
    // unclustered random gaussians — IVF's worst case (cells carve the
    // space arbitrarily, so a neighbor's cell is near-uniform over
    // cells) — so the floor here is modest; on real, clustered
    // embeddings recall at the same nprobe is far higher. Random
    // guessing would score k/n ≈ 1%; measured ≈ 40%.
    val exact = llm.Similarity.s01BruteForceTopK(spark, sf).collect()
      .filter(_.getInt(1) <= 5)
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = llm.Similarity.s02IvfTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF recall@5 = $recall")
  }

  test("s34 √n-provisioned IVF: recall holds while candidates shrink " +
      "per query") {
    // the provisioning lever (PERF.md round-14) as a shipped contract:
    // with k = ⌈√n⌉ cells the per-query candidate pool is O(√n·nprobe)
    // instead of n·nprobe/16 — the curve that stays flat at 100× —
    // and recall vs exact must stay in the same band as the pinned-16
    // fixture (same unclustered-gaussian worst case, finer cells trade
    // a smaller pool for sharper Voronoi boundaries).
    val exact = llm.Similarity.s01BruteForceTopK(spark, sf).collect()
      .filter(_.getInt(1) <= 5)
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val prov = llm.Similarity.s34IvfSqrtProvisioned(spark, sf).collect()
    val provSet = prov.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = provSet.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.15, s"provisioned IVF recall@5 = $recall")
    // every query keeps a full-shaped result (<= 5 rows, rn dense)
    val byQ = prov.groupBy(_.getLong(0))
    assert(byQ.values.forall(rs =>
      rs.map(_.getInt(1)).sorted.sameElements(1 to rs.length)))
  }

  test("IVF index artifact: one training pass serves s02 + d11 + s14") {
    // a 100 TB ANN pipeline trains ONCE and probes many times; the
    // index is a stored artifact (centroids + cell-partitioned
    // inverted lists), not a per-query plan subtree. Pin all of it:
    // (a) running all three consumers trains at most once more this
    // JVM (zero more if an earlier test already touched the corpus);
    // (b) the artifact has the advertised layout — 16 centroid rows,
    // assignments laid out cell-major (one partition dir per cell);
    // (c) the stored inverted lists are exactly the rank-1 assignment
    // a live ranking against the stored centroids produces.
    val before = llm.Similarity.ivfIndex.builds.get()
    llm.Similarity.s02IvfTopK(spark, sf).collect()
    llm.DupClusters.d11SemDedup(spark, sf).collect()
    llm.Similarity.s14HardNegatives(spark, sf).collect()
    llm.Similarity.s15IndexProbe(spark, sf).collect()
    val trained = llm.Similarity.ivfIndex.builds.get() - before
    assert(trained <= 1,
      s"four probe queries caused $trained training passes (want <= 1)")
    val base = new java.io.File(llm.Similarity.ivfIndexBase(spark, sf))
    val centroids = spark.read.parquet(s"${base}/centroids")
    assert(centroids.count() == 16L)
    val cellDirs = new java.io.File(base, "assignments")
      .listFiles().filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.length == 16,
      s"inverted lists must be cell-major: ${cellDirs.length} cell dirs")
    val stored = llm.Similarity.ivfInvertedLists(spark, sf)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val live = llm.Similarity.ivfRanked(spark, sf)
      .filter(col("cell_rank") === 1).select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stored == live,
      "stored inverted lists must equal the live rank-1 assignment")
    // cross-PROCESS reuse: a fresh JVM (simulated by forgetting the
    // per-JVM path cache) fingerprints the corpus, matches the stored
    // marker, and reuses the index with ZERO training — bench, verify
    // and driver runs all share one training pass per fixture
    llm.Similarity.ivfIndex.forget()
    val before2 = llm.Similarity.ivfIndex.builds.get()
    llm.Similarity.s02IvfTopK(spark, sf).collect()
    assert(llm.Similarity.ivfIndex.builds.get() == before2,
      "a matching fingerprint must reuse the stored index, not retrain")
    // tamper detection end-to-end: validity is manifest-backed, not
    // marker-only — prune one inverted-list part-file (a tmp-reaper's
    // signature move) and the next first-toucher must RETRAIN instead
    // of silently serving a short index (r8 ADVICE)
    val wholeCount = llm.Similarity.ivfInvertedLists(spark, sf).count()
    val pruned = Files.walk(base.toPath)
    val victim =
      try pruned.iterator().asScala.find { p =>
        val rel = base.toPath.relativize(p).toString
        Files.isRegularFile(p) && rel.startsWith("assignments") &&
          rel.contains("part-")
      }.get
      finally pruned.close()
    Files.delete(victim)
    llm.Similarity.ivfIndex.forget()
    val before3 = llm.Similarity.ivfIndex.builds.get()
    llm.Similarity.s02IvfTopK(spark, sf).collect()
    assert(llm.Similarity.ivfIndex.builds.get() == before3 + 1,
      "a pruned inverted-list file must invalidate the artifact")
    assert(llm.Similarity.ivfInvertedLists(spark, sf).count() == wholeCount,
      "the retrained index must be whole again")
  }

  test("d17 plan: eval shingle index broadcasts, no corpus-keyed shuffle join") {
    // decontamination's scale shape: the benchmark side is tiny and
    // fixed, so its shingle index must reach the corpus-sized shingle
    // stream via broadcast — a sort-merge/shuffled join here would
    // shuffle the whole corpus keyed by 24-char shingle digests, the
    // exact cost d16 pays by necessity and d17 must not
    val plan = SparkEntry.queries("d17_decontamination")(spark, sf)
      .queryExecution.executedPlan
    val unwrapped = plan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    val nodes = unwrapped.collectWithSubqueries { case p => p.nodeName }
    assert(!nodes.exists(n => n.contains("SortMergeJoin") ||
      n.contains("ShuffledHashJoin")),
      s"d17 plans a corpus-keyed shuffle join: ${nodes.toSet}")
    assert(nodes.count(_.contains("BroadcastHashJoin")) >= 1,
      "d17 must broadcast the eval shingle index")
  }

  test("d18/d19 probe plans: new bands broadcast into stored postings, index read off disk") {
    // the persisted-dedup-index serving shape, for BOTH the single-shot
    // (d18) and the grown (d19) artifact: the nightly batch's bands
    // must BROADCAST into the stored band postings (the batch ≪ the
    // corpus — a shuffled join there repartitions the whole stored
    // index to serve one batch), and the standing side's signatures
    // must come off the artifact's parquet, never recomputed from text
    for (name <- Seq("d18_persisted_dedup_index",
        "d19_incremental_index_append")) {
      val df = SparkEntry.queries(name)(spark, sf)
      df.write.format("noop").mode("overwrite").save() // finalize AQE
      val qe = df.queryExecution
      val plan = qe.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      // plain collect (main physical tree): collectWithSubqueries
      // would descend into AQE's unplanned subquery placeholders,
      // whose logical nodes break the PartialFunction's cast
      assert(plan.collect { case p => p.nodeName }
          .count(_.contains("BroadcastHashJoin")) >= 1,
        s"$name must broadcast the new batch's bands")
      // pre-AQE plan exposes the scans: the band postings and digests
      // are read from the stored artifact
      val idxScans = qe.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(p =>
            p.toString.contains("dedup-index")) => f
      }
      assert(idxScans.length >= 2,
        s"$name must read digests + band postings off the stored " +
          s"artifact, found ${idxScans.length} artifact scans")
    }
  }

  test("s16 incremental index: append without retrain, repeat touch no-op") {
    // bootstrap this JVM's view (may build + append once if no prior
    // test touched the incremental artifact)
    llm.Similarity.s16IncrementalIndexUpdate(spark, sf).collect()
    val t0 = llm.Similarity.ivfIncIndex.builds.get()
    val a0 = llm.Similarity.ivfIncIndex.appends.get()
    // a fresh first-toucher (path cache forgotten = another JVM / the
    // next nightly job) finds the artifact already at the UNION
    // fingerprint: ZERO training and ZERO appends — repeat runs of the
    // pipeline never re-pay the base corpus
    llm.Similarity.ivfIncIndex.forget()
    val rows = llm.Similarity.s16IncrementalIndexUpdate(spark, sf).collect()
    assert(llm.Similarity.ivfIncIndex.builds.get() == t0,
      "repeat touch must not retrain the incremental index")
    assert(llm.Similarity.ivfIncIndex.appends.get() == a0,
      "repeat touch must not re-append the batch")
    // the appended batch is IN the index: batch vectors come back as
    // neighbors (they are each other's nearest by construction of the
    // probe set), and the probe answers are non-empty
    assert(rows.nonEmpty)
    assert(rows.exists(_.getLong(2) % 7 == 3),
      "appended vectors must be retrievable from the updated index")
  }

  test("s22 incremental PQ: batch codes appended against the frozen codebook, repeat touch no-op") {
    llm.Similarity.s22IncrementalPqSearch(spark, sf).collect()
    val t0 = llm.Similarity.pqIncIndex.builds.get()
    val a0 = llm.Similarity.pqIncIndex.appends.get()
    llm.Similarity.pqIncIndex.forget()
    val rows = llm.Similarity.s22IncrementalPqSearch(spark, sf).collect()
    assert(llm.Similarity.pqIncIndex.builds.get() == t0,
      "repeat touch must not retrain the incremental PQ codebook")
    assert(llm.Similarity.pqIncIndex.appends.get() == a0,
      "repeat touch must not re-encode/re-append the batch codes")
    // the batch is IN the compressed index: appended vectors come back
    // as neighbors through codes the base corpus never recomputed
    assert(rows.nonEmpty)
    assert(rows.exists(_.getLong(2) % 7 == 3),
      "appended vectors must be retrievable from the updated PQ index")
    // every query answers a full re-ranked page with a visible refine
    val perQuery = rows.groupBy(_.getLong(0)).view.mapValues(_.length)
    assert(perQuery.values.forall(_ == 10))
    assert(rows.exists(r => r.getInt(1) < r.getInt(4)),
      "exact re-rank never reordered the ADC pool — refine is dead code")
  }

  test("IVF single-query probe: literal cell filter prunes to 3/16 partitions") {
    // the index-server read path: probe cells resolved on the
    // coordinator (16 centroid rows), then a literal `cell IN (…)`
    // scan of the cell-partitioned inverted lists — static partition
    // pruning must select exactly the 3 probe directories, NOT scan
    // the full index (the layout contract the artifact exists for; at
    // 100 TB this is the difference between reading 3/16 and 16/16 of
    // the index per query)
    val vecId = llm.Similarity.ivfInvertedLists(spark, sf)
      .select(min(col("vec_id"))).collect()(0).getLong(0)
    val scan = llm.Similarity.singleQueryProbeScan(spark, sf, vecId)
    val fs = scan.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("probe scan must be a parquet file scan"))
    assert(fs.selectedPartitions.partitionCount == 3,
      s"pruned probe must read 3/16 cell dirs, read " +
        s"${fs.selectedPartitions.partitionCount}")
    // and the data agrees with the pruning: only the 3 probe cells
    assert(scan.select(col("cell")).distinct().count() == 3)
    // the registered s18 point-lookup rides exactly this path: pruned
    // scan, scores against a literal vector, no join anywhere
    val s18 = SparkEntry.queries("s18_point_lookup")(spark, sf)
    // pre-AQE physical plan: static partition pruning is decided at
    // planning time, and the un-adapted plan exposes the scan directly
    // (the executed plan hides it inside materialized query stages)
    val s18Plan = s18.queryExecution.sparkPlan
    val s18Scan = s18Plan.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.headOption.getOrElse(fail("s18 must be a parquet file scan"))
    assert(s18Scan.selectedPartitions.partitionCount == 3,
      "s18 must read 3/16 cell dirs")
    assert(!s18Plan.collectWithSubqueries { case p => p.nodeName }
        .exists(_.contains("Join")),
      "s18's serving plan must contain no join")
  }

  test("g04 warm start: stored scores reused, yesterday's rounds never re-paid") {
    // the authority twin of the incremental index updates: the scores
    // artifact (3 rounds over the old graph) builds at most once; a
    // fresh first-toucher resumes from it with only the 2 refinement
    // rounds, and the grown graph's new nodes are ranked too
    llm.Authority.g04WarmStartPageRank(spark, sf).collect()
    llm.Authority.prScores.forget()
    val b0 = llm.Authority.prScores.builds.get()
    val rows = llm.Authority.g04WarmStartPageRank(spark, sf).collect()
    assert(llm.Authority.prScores.builds.get() == b0,
      "a matching fingerprint must reuse the stored scores")
    assert(rows.nonEmpty)
    // warm-start covers the FULL grown graph's node set
    val cold = llm.Authority.g01PageRank(spark, sf).collect()
    assert(rows.length == cold.length,
      s"warm result ranks ${rows.length} nodes, cold ranks ${cold.length}")
  }

  test("g05 rolling refresh: the roll happens once, repeat runs serve from fp(G1)") {
    // the produce-consume cycle g04 lacks: the first toucher bootstraps
    // G0 cold and rolls Δ1 in (replacing the scores under the new
    // fingerprint); every later run — including a fresh JVM hitting the
    // same corpus — finds fp(G1) current and pays ONLY the serving
    // rounds, neither the bootstrap nor the roll
    llm.Authority.g05RollingPageRank(spark, sf).collect()
    llm.Authority.rollScores.forget()
    val b0 = llm.Authority.rollScores.builds.get()
    val a0 = llm.Authority.rollScores.appends.get()
    val rows = llm.Authority.g05RollingPageRank(spark, sf).collect()
    assert(llm.Authority.rollScores.builds.get() == b0,
      "a rolled artifact must never re-bootstrap")
    assert(llm.Authority.rollScores.appends.get() == a0,
      "a repeat run must not re-roll an already-rolled artifact")
    assert(rows.nonEmpty)
    // the serve warm-starts over the FULL grown graph's node set
    val cold = llm.Authority.g01PageRank(spark, sf).collect()
    assert(rows.length == cold.length,
      s"rolled result ranks ${rows.length} nodes, cold ranks ${cold.length}")
  }

  test("s21 serves from the persisted PQ index: build-once, stored codes equal the live chain") {
    llm.Similarity.s21PqIndexSearch(spark, sf).collect()
    llm.Similarity.pqIndex.forget()
    val t0 = llm.Similarity.pqIndex.builds.get()
    val df = llm.Similarity.s21PqIndexSearch(spark, sf)
    val rows = df.collect()
    assert(llm.Similarity.pqIndex.builds.get() == t0,
      "a current pq-index artifact must never retrain or re-encode")
    // artifact-served == live-composed, row for row — the claim that
    // makes the stored codebook+codes a real index, not a cache
    val live = llm.Similarity.s20IvfPqSearch(spark, sf).collect()
    assert(rows.map(_.toString).toSeq == live.map(_.toString).toSeq,
      "s21 (stored codebook+codes) must equal s20 (live chain) exactly")
    // sparkPlan (pre-AQE — query stages hide scans from executedPlan
    // collects), main tree only: the probes⋈codes join plants a
    // dynamic-partition-pruning SUBQUERY on the codes scan whose plan
    // is still logical at this phase, so collectWithSubqueries would
    // trip over it
    val plan = df.queryExecution.sparkPlan
    val pqScans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("pq-index"))
        => f
    }
    assert(pqScans.nonEmpty, "s21 must read the pq-index artifact")
    // the corpus table appears only in the per-request query-side
    // subtrees (query embed/rank + query LUT slices) — the corpus-wide
    // encode is gone from the serving plan
    val embScans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("embeddings"))
        => f
    }
    assert(embScans.length <= 2,
      s"s21 scans embeddings ${embScans.length}x — corpus reads must be query-side only")
  }

  test("stored-code servers: dynamic partition pruning fires on every codes scan") {
    // the scale contract of the cell-major layout: the probes⋈codes
    // equi-join must plant a dynamicpruning PartitionFilter on the
    // code-table scan, so a 3-cell probe reads ~3/16 of the table's
    // partitions at runtime — for ALL THREE stored-code kinds (PQ raw,
    // SQ8, BQ), not just the one that was hand-checked when the shared
    // codePool/servingProbes tail was extracted. Without this, a probe
    // scans the whole code table and the compression's I/O story is
    // fiction at 100 TB.
    for ((name, df) <- Seq(
        "s21" -> llm.Similarity.s21PqIndexSearch(spark, sf),
        "s29" -> llm.Similarity.s29SqSearch(spark, sf),
        "s30" -> llm.Similarity.s30BqSearch(spark, sf))) {
      assert(df.collect().nonEmpty)
      // sparkPlan (pre-AQE), plain collect — the DPP subquery is still
      // logical here and collectWithSubqueries would class-cast
      val codeScans = df.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(p =>
            p.toString.contains("-index")) &&
            f.relation.location.rootPaths.exists(p =>
              p.toString.endsWith("codes")) => f
      }
      assert(codeScans.nonEmpty, s"$name must read a stored code table")
      codeScans.foreach { f =>
        assert(f.partitionFilters.exists(
          _.toString.contains("dynamicpruning")),
          s"$name codes scan lost dynamic partition pruning: " +
            f.partitionFilters.mkString("; "))
      }
    }
  }

  test("s27 label partitions: the target-label equality prunes the code-table scan") {
    // the layout contract of the label-partitioned PQ artifact: the
    // metadata filter lands on a PARTITION column, so the serving
    // scan never lists another label's dirs — at 100 TB the
    // difference between reading 1/|labels| of the code table and
    // post-filtering a full scan (s26's documented starvation fix)
    val s27 = SparkEntry.queries("s27_label_partitioned")(spark, sf)
    assert(s27.collect().nonEmpty)
    val plan = s27.queryExecution.sparkPlan // pre-AQE: scans visible
    // plain collect: the codes scan is in the main tree, and
    // collectWithSubqueries on a PRE-EXECUTION plan can hit a
    // still-logical subquery and class-cast
    val lblScans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths
          .exists(_.toString.contains("pq-index-lbl")) &&
          f.relation.location.rootPaths
            .exists(_.toString.contains("codes")) => f
    }
    assert(lblScans.nonEmpty, "s27 must read the label-partitioned codes")
    val read = lblScans.map(_.selectedPartitions.partitionCount).sum
    assert(read <= 16,
      s"the label=3 equality must prune to one label's cell dirs " +
        s"(<=16), read $read")
    // pruning is real: the unfiltered table has every label's dirs
    val base = llm.Similarity.lblPqIndexBase(spark, sf)
    val all = spark.read.schema(llm.Similarity.lblCodesSchema)
      .parquet(s"$base/codes")
    val allScan = all.queryExecution.sparkPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("codes must be a parquet scan"))
    assert(allScan.selectedPartitions.partitionCount > 100,
      s"the table holds ~10 labels x 16 cells of dirs, saw " +
        s"${allScan.selectedPartitions.partitionCount}")
    // and the served rows agree with the layout: only the target label
    val served = s27.select(col("neighbor_id")).distinct()
      .join(Tables(spark, sf, "embeddings"),
        col("neighbor_id") === col("vec_id"))
    assert(served.filter(col("label") =!= llm.Similarity.LblTarget).count()
      == 0, "every served neighbor must carry the target label")
  }

  test("s32 tombstones: the delete cut is one broadcast anti-join; an undeleted index plans none") {
    // the serve-side cost contract of remove_ids: exclusion is ONE
    // BroadcastHashJoin(LeftAnti) against the (compaction-bounded)
    // tombstone set — never a shuffle, never a rewrite of the lists —
    // and an index that has never seen a delete pays NOTHING: its
    // plan has no anti-join at all (the conditional resolves
    // driver-side on the tombstone dir's existence)
    val s32 = SparkEntry.queries("s32_tombstone_search")(spark, sf)
    assert(s32.collect().nonEmpty)
    def antiJoins(plan: org.apache.spark.sql.execution.SparkPlan) =
      plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
      }
    assert(antiJoins(s32.queryExecution.sparkPlan).size == 1,
      "the tombstone cut must be exactly one broadcast anti-join")
    // no shuffle was added for it: the anti-join's streamed side is
    // the stored-list scan subtree, exchange-free below the join
    // (probe-side exchanges belong to the ranking, not the cut)
    // — and the UNDELETED serving paths stay plan-identical:
    val clean = llm.IndexDelete.liveListsAt(spark,
      llm.Similarity.ivfIndexBase(spark, sf))
    assert(antiJoins(clean.queryExecution.sparkPlan).isEmpty,
      "an index with no tombstone dir must plan a bare stored scan")
  }

  test("BM25 postings: a literal term bucket prunes to 1/64 partitions") {
    // the lexical layout twin of the IVF cell pruning: the stored
    // postings are term-hash-bucketed, so a point lookup of ONE term
    // (spell-check, exact keyword hit, posting-list debug) resolves
    // its bucket on the coordinator and scans 1/64 of the index
    val base = llm.Retrieval.bm25IndexBase(spark, sf)
    val term = spark.read.parquet(s"$base/postings")
      .select(col("term")).limit(1).collect()(0).getString(0)
    val bucket = spark.range(1)
      .select(pmod(xxhash64(lit(term)), lit(llm.Retrieval.PostingBuckets)))
      .collect()(0).getLong(0)
    val scan = spark.read.parquet(s"$base/postings")
      .filter(col("tbucket") === bucket && col("term") === term)
    val fs = scan.queryExecution.sparkPlan.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.headOption.getOrElse(fail("postings lookup must be a parquet scan"))
    assert(fs.selectedPartitions.partitionCount == 1,
      s"term lookup must read 1/${llm.Retrieval.PostingBuckets} bucket " +
        s"dirs, read ${fs.selectedPartitions.partitionCount}")
    assert(scan.count() > 0, "the probed term must actually be found")
  }

  test("observe: lazy row-count metrics ride the action, no extra job") {
    // production pipelines meter stages with observe() — the metric is
    // collected DURING the action (an accumulator on the plan), not by
    // a second count() job over the data
    val observed = Tables(spark, sf, "documents")
      .filter(col("n_chars") > 100)
      .observe("gate", count(lit(1)).as("n_rows"))
    val n = observed.collect().length
    val metrics = observed.queryExecution.observedMetrics
    assert(metrics.contains("gate"))
    assert(metrics("gate").getAs[Long]("n_rows") === n.toLong)
  }
}
