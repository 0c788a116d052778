package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Release every block the previous query left behind: cached plans,
    * `persist()`ed RDDs, and — the big one — `localCheckpoint` blocks,
    * which are ordinary persisted RDDs whose driver references die with
    * the query's DataFrame but whose executor blocks survive until the
    * ContextCleaner notices the GC (which an 8 GB driver heap may defer
    * for minutes). Round 6 measured the cost of NOT doing this: d07 ran
    * 19.95 s inside the 157-query suite vs ~4 s in isolation — the
    * in-context number IS the 100×-cluster number (storage eviction →
    * spill/recompute on hot paths), so each query must start from a
    * clean storage layer, exactly as a per-job cluster submission would.
    * Safe here because queries are built fresh per run — nothing
    * references the previous run's frames. */
  private[graft] def releaseStorage(spark: SparkSession): Unit = {
    dropStorage(spark)
    // nudge the ContextCleaner: broadcast + accumulator cleanup keys off
    // driver GC, and small-heap JVMs can go a long time between majors.
    // Only between timed runs: the full GC costs ~0.3-0.5 s a call on an
    // 8 GB driver (Verify at sf0.01 on 4 cores: 206-244 s without it,
    // 290-325 s with it), so untimed callers take [[dropStorage]] alone.
    System.gc()
  }

  /** Drop cached plans and every persisted RDD (`localCheckpoint`
    * blocks included) — the storage half of [[releaseStorage]]. */
  private[graft] def dropStorage(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** JSON keys for the per-query map: each query's id prefix (text
    * before the first '_') — the full-name JSON line exceeds the
    * driver's 2,000-char tail capture. On a prefix collision the later
    * name (in the caller's order, which `main` sorts) gets a
    * deterministic `~2`/`~3` suffix rather than silently reverting the
    * whole line to full names (which would re-break the tail parse). */
  private[graft] def shortKeys(names: Seq[String]): Seq[String] = {
    val seen = scala.collection.mutable.Map.empty[String, Int]
    names.map { name =>
      val p = name.takeWhile(_ != '_')
      val n = seen.getOrElse(p, 0)
      seen(p) = n + 1
      if (n == 0) p else s"$p~${n + 1}"
    }
  }

  /** Per-query fresh-JVM isolation medians from
    * `tools/iso_baseline.json` (written by `tools/isodelta.py
    * --write-baseline`), keyed by the bench's short query keys —
    * used only when the baseline was measured at the same SF dir
    * basename as this run. Absent/unparseable file → empty (the
    * driver's bench then simply carries no flags). Parsing is a
    * two-level regex pull, not a JSON library — the file is
    * machine-written flat JSON. */
  private[graft] def isoBaseline(sfDir: String): Map[String, Double] = {
    val f = new java.io.File("tools/iso_baseline.json")
    if (!f.isFile) Map.empty
    else try {
      val text = new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val sfRe = """"sf"\s*:\s*"([^"]+)"""".r
      val sfOk = sfRe.findFirstMatchIn(text)
        .exists(_.group(1) == new java.io.File(sfDir).getName)
      if (!sfOk) Map.empty
      else {
        val qRe = """"([a-z]+[0-9~]+[a-z0-9~]*)"\s*:\s*(-?[0-9.]+)""".r
        qRe.findAllMatchIn(text)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    } catch { case _: Throwable => Map.empty }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSession(cpus)
    // warm-up: run the whole query set once at the smallest SF — JIT,
    // codegen compilation, classloading and sink init all happen here,
    // so no timed query is charged for JVM startup (at sf0.001 the
    // sweep is seconds; data volume is negligible). Prefer the sf0.001
    // sibling of the bench dir; fall back to the bench dir itself so
    // the warm-up never silently degrades to a no-op on other layouts.
    val warmDir = {
      val sibling = new java.io.File(
        new java.io.File(sfDir).getParentFile, "sf0.001")
      if (sibling.isDirectory) sibling.getPath else sfDir
    }
    // dev filter: SPARK_GRAFT_ONLY=s09,d03 times just those queries
    // (full names or id prefixes); a trailing '*' prefix-matches, so
    // SPARK_GRAFT_ONLY='d*' is the whole dedup family — what
    // tools/isodelta.py uses for per-family isolation runs. The driver
    // never sets it, so the recorded per-round bench always covers the
    // whole inventory.
    val onlySet = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean =
      onlySet.forall(s => s.contains(name) ||
        s.contains(name.takeWhile(_ != '_')) ||
        s.exists(t => t.endsWith("*") && name.startsWith(t.dropRight(1))))
    var warmFailures = 0
    SparkEntry.queries.filter(q => selected(q._1)).foreach { case (name, fn) =>
      try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        warmFailures += 1
        System.err.println(s"[bench] warm-up $name failed: ${e.getMessage}")
      }
    }
    if (warmFailures > 0)
      System.err.println(s"[bench] $warmFailures warm-up failures on " +
        s"$warmDir — timings may include JIT noise")
    // the warm-up sweep leaks one localCheckpoint per checkpointing
    // query (~40 across the inventory) — drop them before timing starts
    releaseStorage(spark)
    // median of 3 back-to-back runs per query: this box's wall-clock is
    // ±20% noisy between identical runs (NOTES.md), and single-run
    // numbers have swung >3× across rounds with zero code change — the
    // median is robust to one GC pause / page-cache miss per query.
    val Runs = 3
    val results = SparkEntry.queries.toSeq.filter(q => selected(q._1))
      .sortBy(_._1).map { case (name, fn) =>
      val times = (1 to Runs).map { _ =>
        // clean storage layer per run, charged to neither this run nor
        // the previous one — see releaseStorage
        releaseStorage(spark)
        val t0 = System.nanoTime()
        // noop sink: forces full computation of every output column and
        // ordering (count() would let Catalyst prune projections/sorts
        // and under-measure the actual query work).
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      }
      // ANY failed run → -1 in the JSON: flakiness must be visible in
      // the parsed output, not only on stderr (which the driver's
      // bounded tail capture can drop). A median over survivors would
      // mask a query that throws on 1-2 of its 3 runs.
      val sorted = times.sorted
      name -> (if (times.exists(_ < 0)) -1.0 else sorted(sorted.length / 2))
    }
    // seconds rounded to 10 ms: at 149 queries the ms form is ~1.86 KB
    // — within ~140 chars of the driver's 2,000-char tail capture; one
    // fewer decimal keeps ~290 chars of headroom. -1 failure markers
    // and the wall-clock noise floor (±20%) both survive the rounding.
    // (Locale.ROOT: a comma decimal separator would corrupt the JSON)
    def r(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    // JSON keys are the queries' id prefixes (q12, d03, st01 — the text
    // before the first '_'): the driver's output-tail capture is 2000
    // chars and the full-name JSON line has exceeded it every round so
    // far (BENCH_r0*.json all show "parsed": null with the line's head
    // cut off). Prefixes keep the line ~1.3 KB with headroom to grow;
    // collisions get deterministic ~N suffixes (shortKeys) so the line
    // never silently reverts to the overflowing full-name form.
    val keys = shortKeys(results.map(_._1))
    val qs = keys.zip(results).map { case (k, (_, v)) => "\"" + k + "\":" + r(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // context-vs-isolation drift flags (the r6 d07 / r7 p07 / r8 p17
    // failure class — a query whose FULL-SUITE number silently leaves
    // its fresh-JVM cost): compare against the checked-in per-family
    // isolation baseline (tools/iso_baseline.json, produced by
    // tools/isodelta.py --write-baseline). The comparison is
    // NORMALIZED by this run's median ctx/iso ratio: the box's whole
    // wall clock swings ±20% run to run, and an un-normalized rule
    // flags whichever query crosses the line first on a globally slow
    // run (measured: a +12% run spuriously flagged s13) while the real
    // failure class is one query drifting AWAY FROM ITS OWN RUN (r8's
    // p17: +50% against a flat family — still fires after
    // normalization). Flag v > 1.5×iso×scale AND v − iso×scale >
    // 0.5 s; the scale is emitted so a reading of the JSON can see
    // how hot/cold the run itself was. Baselines are sf-specific; no
    // baseline (or another sf) → no flags.
    val iso = isoBaseline(sfDir)
    val ratios = keys.zip(results).collect {
      case (k, (_, v)) if v > 0 && iso.get(k).exists(_ > 0) => v / iso(k)
    }.sorted
    val scale = if (ratios.isEmpty) 1.0 else ratios(ratios.length / 2)
    val perQueryDrift = keys.zip(results).collect {
      case (k, (_, v)) if v > 0 && iso.get(k).exists(i =>
        i > 0 && v > 1.5 * i * scale && v - i * scale > 0.5) => k
    }
    // normalization absorbs any UNIFORM slowdown into the scale itself
    // (a change slowing a shared helper would flag nothing) — so the
    // scale gets its own machine-readable flag: a SEPARATE boolean
    // field "suite_drift" set when the run's median ctx/iso ratio
    // exceeds 1.3. It is deliberately NOT an entry in the per-query
    // drift array — every drift consumer maps entries to query names,
    // and a sentinel key would be an unknown query to them (ADVICE
    // r10). Whether a suite-wide flag is box noise or a real
    // shared-path change is adjudicated by the PERF.md two-run +
    // control-query protocol, same as per-query flags. (ADVICE r9)
    val suiteDrift = scale > 1.3
    val driftJson = perQueryDrift.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Two JSON lines, full first, COMPACT LAST. The driver keeps only
    // the final 2000 chars of output (measured: BENCH_r08.json's tail
    // ends with sbt's ~72-char "[success]" trailer, so ~1,920 usable),
    // and at 182 queries the full 2dp line is ~2.1 KB — its head (the
    // total!) has been truncated away every round since the suite
    // outgrew it. The LAST line is therefore a compact digest sized to
    // always fit: 1dp values, numeric sf, and sub-noise queries (the
    // box's floor is ~±20% wall noise; a 0.2 s query carries no
    // round-over-round signal) folded into an explicit
    // "omitted":{n,sec,below} record — never a silent cap. The
    // threshold self-raises until the line fits 1,800 chars, so query
    // growth can never push the digest back past the capture window.
    // Local tools (isodelta, PERF bookkeeping) parse the FIRST line
    // and keep full precision + the complete per-query map.
    println(s"""{"metric":"total","value":${r(total)},"unit":"sec","queries":$qs,"drift":$driftJson,"suite_drift":$suiteDrift,"iso_scale":${r(scale)},"sf":"$sfDir"}""")
    def r1(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    val sfName = new java.io.File(sfDir).getName
    val sfJson =
      if (sfName.matches("sf[0-9.]+")) sfName.drop(2) else "\"" + sfName + "\""
    val compact = Seq(0.0, 0.1, 0.2, 0.3, 0.5, 0.75, 1.0, 1.5).iterator
      .map { below =>
        val kept = keys.zip(results).collect {
          case (k, (_, v)) if v < 0 || v >= below => "\"" + k + "\":" + r1(v)
        }.mkString("{", ",", "}")
        val om = results.map(_._2).filter(v => v >= 0 && v < below)
        s"""{"metric":"total","value":${r1(total)},"unit":"sec","queries":$kept,"omitted":{"n":${om.length},"sec":${r1(om.sum)},"below":$below},"drift":$driftJson,"suite_drift":$suiteDrift,"sf":$sfJson}"""
      }
      .find(_.length <= 1800)
      .getOrElse(s"""{"metric":"total","value":${r1(total)},"unit":"sec","queries":{},"omitted":{"n":${results.length},"sec":${r1(total)},"below":-1},"drift":$driftJson,"suite_drift":$suiteDrift,"sf":$sfJson}""")
    println(compact)
    spark.stop()
  }
}
