package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lints over `src/main/scala`.
  *
  * A parquet read whose schema is inferred costs a distributed
  * footer-read job per frame. Every read therefore either declares its
  * schema (`read.schema(s).parquet(p)`) or goes through
  * [[io.Load.parquet]], which resolves the schema on the driver.
  *
  * The operator modules in `graft/llm` resolve their artifacts through
  * one [[io.Artifact]] handle per kind, and fingerprint through
  * [[io.ArtifactStore.partsWhere]]: they hand-write no memo, artifact
  * path, ensure call or xor aggregate of their own.
  *
  * The compressed code tables (PQ, SQ8, BQ) share one build, pool,
  * server and set of streaming sinks written over the
  * [[llm.CodeTable]] kind: `IndexIngest` and `Similarity` define no
  * per-kind copy of them.
  *
  * The IVF, BM25 and LSH lifecycles are written once over the
  * [[llm.IndexFamily]]: `IndexIngest` defines no per-family bootstrap,
  * sink or compaction, `src/main` no per-family removal planner or
  * `applyDeletes` wrapper, and the two row-hash fingerprint kernels
  * (vectors and documents) are written only in `llm/IndexFamily.scala`.
  *
  * The families and the code tables bound to their IVF sibling share
  * one [[llm.IndexMember]] lifecycle: `IndexIngest` defines each of
  * `bootstrap`, `appendSink`, `compact` and `maybeCompact` exactly once
  * and keeps no IVF-only twin of a member verb. Every
  * `Similarity.ivfBuildFrom` call names its cell count.
  *
  * The IVF coarse quantizer is written once in [[llm.Similarity]]: the
  * centroid ranking (the only `col("csim")` outside SQL text) lives in
  * `rankedAgainst`, and only that module names the artifact's
  * `centroids/` and `assignments/` children.
  *
  * The ⌊x·2²⁰⌋ cross-engine quantizer is written once, as
  * `Similarity.quantized`. Iterative operators run through
  * [[Checkpoints.converge]], which releases their checkpoints: only
  * `Checkpoints` itself and the BPE trainer (a merge-budget loop, not a
  * fixpoint) call `Checkpoints.release`. The between-queries storage
  * release (cached plans and every persisted RDD) is written once, as
  * `Bench.dropStorage`. */
class SourceLintSpec extends AnyFunSuite {

  private def sources(dir: String): Seq[(Path, String)] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(f => (f, Files.readString(f)))
  }

  /** Artifact-lifecycle boilerplate an operator module must leave to
    * [[io.Artifact]] and the shared fingerprint kernel: (line, match). */
  private[graft] def artifactBoilerplate(src: String): Seq[(Int, String)] =
    ("""\bValidatedPathCache\b|\bbit_xor\b|""" +
      """\bArtifactStore\s*\.\s*(artifactPath|ensure|ensureIncremental)\s*\(""")
      .r.findAllMatchIn(src).map { m =>
        (src.substring(0, m.start).count(_ == '\n') + 1,
          m.matched.replaceAll("\\s+", ""))
      }.toSeq

  /** By file, the names a hand-copied code-table kind would define
    * beside the [[llm.CodeTable]]-generic ones: a `def` of one of them
    * is a per-kind copy. */
  private val perKindEntries: Seq[(String, String)] = Seq(
    "src/main/scala/graft/stream/IndexIngest.scala" ->
      ("(pq|sq|bq)(Bootstrap|AppendSink|AppendSinkPaired)|" +
        "compact(Pq|Sq|Bq)|maybeCompact(Pq|Sq|Bq)|resolve(Sq|Bq)"),
    "src/main/scala/graft/llm/Similarity.scala" ->
      "(sq|bq)(Pool|ServeFrom|BuildInto)")

  /** By file (None: every file under `src/main/scala`), the names a
    * hand-copied index-family lifecycle would define beside the
    * [[llm.IndexFamily]]-generic ones. */
  private val perFamilyEntries: Seq[(Option[String], String)] = Seq(
    Some("src/main/scala/graft/stream/IndexIngest.scala") ->
      "(ivf|bm25|lsh)(Bootstrap|AppendSink|DeleteSink)|compact(Ivf|Bm25|Lsh)",
    None -> """\w+RemovalPlan|\w+ApplyDeletes""")

  /** Each row-hash fingerprint expression in `src` — the vector kernel
    * `xxhash64(to_json(struct(vec_id, embedding)))` or the document
    * kernel `xxhash64(doc_id, text)`, with or without `col("…")`
    * wrappers and across line breaks: (line, match). */
  private[graft] def rowHashCopies(src: String): Seq[(Int, String)] = {
    def id(n: String) = raw"""(?:col\(\s*"$n"\s*\)|$n)"""
    (raw"""xxhash64\(\s*to_json\(\s*struct\(\s*${id("vec_id")}\s*,""" +
      raw"""\s*${id("embedding")}\s*\)\s*\)\s*\)|""" +
      raw"""xxhash64\(\s*${id("doc_id")}\s*,\s*${id("text")}\s*\)""")
      .r.findAllMatchIn(src).map { m =>
        (src.substring(0, m.start).count(_ == '\n') + 1,
          m.matched.replaceAll("\\s+", ""))
      }.toSeq
  }

  private val ingestFile = "src/main/scala/graft/stream/IndexIngest.scala"

  /** The member verbs `IndexIngest` defines once, over
    * [[llm.IndexMember]]. */
  private val memberVerbs = Seq("bootstrap", "appendSink", "compact",
    "maybeCompact")

  /** The IVF-only twins that merged into the member verbs. */
  private val retiredIvfTwins = "maybeCompactIvf|ivfAppendSinkPaired"

  /** Each `ivfBuildFrom(` call with fewer than three arguments — one
    * that leaves the cell count unnamed. The `def` is not a call:
    * (line, call). */
  private[graft] def unsizedIvfBuilds(src: String): Seq[(Int, String)] =
    """(\bdef\s+)?\bivfBuildFrom\s*\(""".r.findAllMatchIn(src)
      .filter(_.group(1) == null)
      .flatMap { m =>
        var (depth, commas, i) = (1, 0, m.end)
        while (depth > 0 && i < src.length) {
          src(i) match {
            case '(' | '[' | '{' => depth += 1
            case ')' | ']' | '}' => depth -= 1
            case ',' if depth == 1 => commas += 1
            case _ =>
          }
          i += 1
        }
        if (commas >= 2) None
        else Some((src.substring(0, m.start).count(_ == '\n') + 1,
          src.substring(m.start, i).replaceAll("\\s+", "")))
      }.toSeq

  private def isIndexFamily(f: Path): Boolean =
    f.endsWith(Paths.get("graft", "llm", "IndexFamily.scala"))

  /** Each `def` in `src` whose whole name matches `names`:
    * (line, name). */
  private[graft] def perKindDefs(src: String,
      names: String): Seq[(Int, String)] =
    raw"""\bdef\s+($names)\b""".r.findAllMatchIn(src).map { m =>
      (src.substring(0, m.start).count(_ == '\n') + 1, m.group(1))
    }.toSeq

  /** Each match of `pattern` on a line that is not SQL text (a line
    * whose first non-blank character is `|`), with the `def` it sits
    * in: (line, enclosing def name, or "" before any def). */
  private def outsideSqlText(src: String,
      pattern: scala.util.matching.Regex): Seq[(Int, String)] = {
    var owner = ""
    src.split("\n", -1).toSeq.zipWithIndex.flatMap { case (l, i) =>
      if (l.trim.startsWith("|")) Nil
      else {
        """\bdef\s+(\w+)""".r.findFirstMatchIn(l)
          .foreach(m => owner = m.group(1))
        pattern.findAllMatchIn(l).map(_ => (i + 1, owner)).toSeq
      }
    }
  }

  /** Each `col("csim")` outside SQL text, with its `def`. */
  private[graft] def csimColumns(src: String): Seq[(Int, String)] =
    outsideSqlText(src, """col\(\s*"csim"\s*\)""".r)

  /** Each hand-written ⌊x·2²⁰⌋ BIGINT quantizer outside SQL text, with
    * its `def`. */
  private[graft] def quantizerCopies(src: String): Seq[(Int, String)] =
    outsideSqlText(src, """lit\(1048576\.0\)\)\.cast\(""".r)

  /** Each `Checkpoints.release(` call: (line, match). */
  private[graft] def releaseCalls(src: String): Seq[(Int, String)] =
    """\bCheckpoints\s*\.\s*release\s*\(""".r.findAllMatchIn(src).map { m =>
      (src.substring(0, m.start).count(_ == '\n') + 1,
        m.matched.replaceAll("\\s+", ""))
    }.toSeq

  /** Each sweep over every persisted RDD (`getPersistentRDDs.values`,
    * across line breaks), with the `def` it sits in: (line, def). */
  private[graft] def unpersistSweeps(src: String): Seq[(Int, String)] =
    """\bgetPersistentRDDs\s*\.\s*values\b""".r.findAllMatchIn(src).map { m =>
      val before = src.substring(0, m.start)
      val owner = """\bdef\s+(\w+)""".r.findAllMatchIn(before)
        .foldLeft("")((_, d) => d.group(1))
      (before.count(_ == '\n') + 1, owner)
    }.toSeq

  /** Path literals naming the IVF artifact's layout children: (line,
    * match). */
  private[graft] def ivfLayoutPaths(src: String): Seq[(Int, String)] =
    """/(centroids|assignments)"""".r.findAllMatchIn(src).map { m =>
      (src.substring(0, m.start).count(_ == '\n') + 1, m.matched)
    }.toSeq

  private def isSimilarity(f: Path): Boolean =
    f.endsWith(Paths.get("graft", "llm", "Similarity.scala"))

  /** Every reader chain — `.read` followed by `.method(args)` calls,
    * across line breaks — that ends in `.parquet(` without declaring a
    * `.schema(` first: (line, chain). */
  private[graft] def inferredParquetReads(src: String): Seq[(Int, String)] =
    """\.read\b""".r.findAllMatchIn(src).flatMap { m =>
      var i = m.end
      val calls = Seq.newBuilder[String]
      var more = true
      while (more) {
        var j = i
        while (j < src.length && src(j).isWhitespace) j += 1
        val name = """^\.(\w+)\s*\(""".r.findPrefixMatchOf(src.substring(j))
        name match {
          case Some(c) =>
            calls += c.group(1)
            // skip the balanced argument list
            var k = j + c.end
            var depth = 1
            while (k < src.length && depth > 0) {
              if (src(k) == '(') depth += 1
              else if (src(k) == ')') depth -= 1
              k += 1
            }
            i = k
          case None => more = false
        }
      }
      val chain = calls.result().takeWhile(_ != "parquet")
      if (chain.length < calls.result().length && !chain.contains("schema"))
        Some((src.substring(0, m.start).count(_ == '\n') + 1,
          src.substring(m.start, i).replaceAll("\\s+", " ")))
      else None
    }.toSeq

  test("the chain detector flags inferred reads and only those") {
    val flagged = Seq(
      "spark.read.parquet(p)",
      "spark.read\n      .parquet(s\"${base(spark, dir)}/centroids\")",
      "v.sparkSession.read.parquet(p)",
      "spark.read.option(\"mergeSchema\", \"true\").parquet(out)")
    val clean = Seq(
      "spark.read.schema(s).parquet(p)",
      "spark.read\n  .schema(s)\n  .parquet(p)",
      "df.write.mode(\"overwrite\").parquet(p)",
      "spark.read.csv(p)",
      "spark.readStream.schema(s).parquet(p)")
    flagged.foreach(s => assert(inferredParquetReads(s).size === 1, s))
    clean.foreach(s => assert(inferredParquetReads(s).isEmpty, s))
  }

  test("no parquet read in src/main infers its schema") {
    val offenders = sources("src/main/scala").flatMap { case (f, src) =>
      inferredParquetReads(src).map { case (line, chain) =>
        s"$f:$line: $chain"
      }
    }
    assert(offenders.isEmpty,
      s"${offenders.size} parquet reads infer their schema (one Spark job " +
        "each); declare it or use graft.io.Load.parquet:\n" +
        offenders.mkString("\n"))
  }

  test("the boilerplate detector flags hand-written artifact lifecycle and only that") {
    val flagged = Seq(
      "private val c = graft.io.ValidatedPathCache.single()",
      "new ValidatedPathCache(maxEntries = 2)",
      "graft.io.ArtifactStore.artifactPath(\"ivf-index\", dir)",
      "graft.io.ArtifactStore.ensure(base, fp)(build)",
      "ArtifactStore\n      .ensure(base, fp)(build)",
      "graft.io.ArtifactStore.ensureIncremental(base, a, b)(x)(y)",
      ".agg(count(lit(1)), expr(\"bit_xor(h)\"))",
      "bit_xor(when(col(p), col(\"h\")))")
    val clean = Seq(
      "ivfIndex.ensure(dir)(corpusParts(spark, dir))(build)",
      "bm25IncIndex.ensureIncremental(dir)(base, batch)(b)(a)",
      "graft.io.ArtifactStore.mutate(base, cur, next)(append)",
      "graft.io.ArtifactStore.partsWhere(df, h, preds)",
      "ArtifactStore.currentFingerprint(base)",
      "[[graft.io.ArtifactStore.ensure]] staged build",
      "xxhash64(col(\"doc_id\"), col(\"text\"))")
    flagged.foreach(s => assert(artifactBoilerplate(s).size === 1, s))
    clean.foreach(s => assert(artifactBoilerplate(s).isEmpty, s))
  }

  test("no module in src/main/scala/graft/llm hand-writes an artifact lifecycle") {
    val offenders = sources("src/main/scala/graft/llm").flatMap { case (f, src) =>
      artifactBoilerplate(src).map { case (line, hit) => s"$f:$line: $hit" }
    }
    assert(offenders.isEmpty,
      s"${offenders.size} hand-written artifact-lifecycle steps; resolve " +
        "through a graft.io.Artifact handle and fingerprint through " +
        "graft.io.ArtifactStore.partsWhere:\n" + offenders.mkString("\n"))
  }

  test("the per-kind detector flags the replaced code-table entries and only those") {
    val (ingest, similarity) = (perKindEntries(0)._2, perKindEntries(1)._2)
    val flagged = Seq(
      ingest -> "def pqBootstrap(base: String, ivfBase: String,",
      ingest -> "def sqAppendSink(base: String, ivfBase: String,",
      ingest -> "  def bqAppendSinkPaired(pairBase: String)",
      ingest -> "def compactSq(spark: SparkSession, base: String)",
      ingest -> "def maybeCompactPq(spark: SparkSession,",
      ingest -> "def resolveBq(pairBase: String)",
      similarity -> "private def sqPool(probes: DataFrame,",
      similarity -> "private[graft] def bqServeFrom(spark: SparkSession,",
      similarity -> "private def sqBuildInto(spark: SparkSession,")
    val clean = Seq(
      ingest -> "def bootstrap(t: CodeTable, base: String,",
      ingest -> "def appendSink(t: CodeTable, base: String,",
      ingest -> "def appendSinkPaired(t: CodeTable, pairBase: String,",
      ingest -> "def compactIvf(spark: SparkSession, base: String)",
      ingest -> "def maybeCompactIvf(spark: SparkSession,",
      ingest -> "def resolvePair(pairBase: String)",
      ingest -> "def resolveMember(t: CodeTable, pairBase: String)",
      ingest -> "def pqBootstrapLegacy(base: String)",
      ingest -> "IndexIngest.pqBootstrap(pqB, ivf, v)",
      similarity -> "private def codePool(t: CodeTable,",
      similarity -> "private[graft] def serveFrom(t: CodeTable,",
      similarity -> "private def pqBuildInto(spark: SparkSession,",
      similarity -> "// sqPool and bqServeFrom were merged")
    flagged.foreach { case (names, s) =>
      assert(perKindDefs(s, names).size === 1, s) }
    clean.foreach { case (names, s) =>
      assert(perKindDefs(s, names).isEmpty, s) }
  }

  test("IndexIngest and Similarity define no per-kind code-table entry") {
    val offenders = perKindEntries.flatMap { case (file, names) =>
      val f = Paths.get(file)
      assert(Files.isRegularFile(f), s"run from the repository root: $f")
      perKindDefs(Files.readString(f), names).map { case (line, name) =>
        s"$file:$line: def $name"
      }
    }
    assert(offenders.isEmpty,
      s"${offenders.size} per-kind code-table entries; write them once " +
        "over graft.llm.CodeTable:\n" + offenders.mkString("\n"))
  }

  test("the per-family detectors flag lifecycle copies and row-hash kernels and only those") {
    val (ingest, anywhere) = (perFamilyEntries(0)._2, perFamilyEntries(1)._2)
    val flagged = Seq(
      ingest -> "def ivfAppendSink(base: String, appId: String = DefaultApp)(",
      ingest -> "def bm25Bootstrap(base: String, docs: DataFrame)",
      ingest -> "  def lshDeleteSink(base: String,",
      ingest -> "def compactBm25(spark: SparkSession, base: String)",
      anywhere -> "private[graft] def lshRemovalPlan(spark: SparkSession,",
      anywhere -> "def bm25ApplyDeletes(spark: SparkSession, base: String,")
    val clean = Seq(
      ingest -> "def appendSink(f: IndexFamily, base: String, appId: String)(",
      ingest -> "def ivfAppendSinkPaired(pairBase: String,",
      ingest -> "def ivfDeleteSinkPaired(pairBase: String,",
      ingest -> "def compact(f: IndexFamily, spark: SparkSession,",
      ingest -> "def maybeCompactIvf(spark: SparkSession,",
      ingest -> "IndexIngest.bm25AppendSink(idx)(b1, 0L)",
      anywhere -> "private[graft] def removalPlan(f: IndexFamily,",
      anywhere -> "def applyDeletes(f: IndexFamily, spark: SparkSession,")
    flagged.foreach { case (names, l) =>
      assert(perKindDefs(l, names).size === 1, l) }
    clean.foreach { case (names, l) =>
      assert(perKindDefs(l, names).isEmpty, l) }
    Seq("xxhash64(to_json(struct(col(\"vec_id\"), col(\"embedding\"))))",
      "xxhash64(to_json(struct(\n  col(\"vec_id\"),\n  col(\"embedding\"))))",
      "xxhash64(col(\"doc_id\"), col(\"text\")).as(\"h64\")",
      "expr(\"xxhash64(doc_id, text)\")")
      .foreach(l => assert(rowHashCopies(l).size === 1, l))
    Seq("xxhash64(to_json(struct(col(\"vec_id\"), col(\"embedding\"),\n" +
        "  col(\"label\"))))",
      "pmod(xxhash64(col(\"term\")), lit(PostingBuckets))",
      "xxhash64(col(\"event_id\"), col(\"user_id\"), col(\"props\"))",
      "IndexFamily.Lsh.rowHash.as(\"h64\")")
      .foreach(l => assert(rowHashCopies(l).isEmpty, l))
  }

  test("the IVF, BM25 and LSH lifecycles and row-hash kernels are written once, over IndexFamily") {
    val main = sources("src/main/scala")
    val copies = perFamilyEntries.flatMap { case (file, names) =>
      main.filter { case (f, _) => file.forall(p => f.endsWith(Paths.get(p))) }
        .flatMap { case (f, src) =>
          perKindDefs(src, names).map { case (line, name) =>
            s"$f:$line: def $name" }
        }
    }
    val kernels = main.filterNot(p => isIndexFamily(p._1)).flatMap {
      case (f, src) =>
        rowHashCopies(src).map { case (line, hit) => s"$f:$line: $hit" }
    }
    val offenders = copies ++ kernels
    assert(offenders.isEmpty, s"${offenders.size} per-family lifecycle " +
      "entries or row-hash kernels; write them once over " +
      "graft.llm.IndexFamily:\n" + offenders.mkString("\n"))
  }

  test("the member-verb detectors count whole verb names and unsized IVF builds") {
    val verbs = memberVerbs.mkString("|")
    Seq("def bootstrap(m: IndexMember, base: String,",
      "  def appendSink(m: IndexMember, base: String, appId: String",
      "def compact(m: IndexMember, spark: SparkSession,",
      "def maybeCompact(m: IndexMember, spark: SparkSession,")
      .foreach(l => assert(perKindDefs(l, verbs).size === 1, l))
    Seq("def bootstrapPair(pairBase: String, vectors: DataFrame,",
      "def appendSinkPaired(m: PairMember, pairBase: String,",
      "private def bootstrapOnce(base: String, parts: => (Long, Long))(",
      "IndexIngest.compact(IndexFamily.Ivf, spark, base)")
      .foreach(l => assert(perKindDefs(l, verbs).isEmpty, l))
    Seq("def maybeCompactIvf(spark: SparkSession,",
      "def ivfAppendSinkPaired(pairBase: String, appId: String)(")
      .foreach(l => assert(perKindDefs(l, retiredIvfTwins).size === 1, l))
    Seq("Similarity.ivfBuildFrom(v, staging)",
      "ivfBuildFrom(normed(spark, dir), _))",
      "Similarity.ivfBuildFrom(\n  IndexDelete.liveListsAt(spark, live)\n" +
        "    .select(col(\"vec_id\"), col(\"norm\")),\n  staging)")
      .foreach(l => assert(unsizedIvfBuilds(l).size === 1, l))
    Seq("ivfBuildFrom(normed(spark, dir), _, 16))",
      "Similarity.ivfBuildFrom(v, staging, cells)",
      "ivfBuildFrom(f(a, b), s, cells = 7)",
      "private[graft] def ivfBuildFrom(v: DataFrame, staging: String)",
      "[[ivfBuildFrom]] is the one IVF build")
      .foreach(l => assert(unsizedIvfBuilds(l).isEmpty, l))
  }

  test("IndexIngest defines each member verb once and no IVF-only twin") {
    val f = Paths.get(ingestFile)
    assert(Files.isRegularFile(f), s"run from the repository root: $f")
    val src = Files.readString(f)
    val defs = perKindDefs(src, memberVerbs.mkString("|")).groupBy(_._2)
    memberVerbs.foreach { v =>
      assert(defs.get(v).map(_.size).contains(1),
        s"IndexIngest must define $v exactly once, over IndexMember; " +
          s"found at lines ${defs.getOrElse(v, Nil).map(_._1)}")
    }
    val twins = perKindDefs(src, retiredIvfTwins)
    assert(twins.isEmpty, s"IVF-only twins of member verbs: $twins; " +
      "call the member verb with IndexFamily.Ivf")
  }

  test("every ivfBuildFrom call in src/main names its cell count") {
    val offenders = sources("src/main/scala").flatMap { case (f, src) =>
      unsizedIvfBuilds(src).map { case (line, hit) => s"$f:$line: $hit" }
    }
    assert(offenders.isEmpty, s"${offenders.size} ivfBuildFrom calls " +
      "without a cell count; pass 16 at fixture sites, the family's " +
      "cells or the stored centroid count:\n" + offenders.mkString("\n"))
  }

  test("the csim detector flags the column outside SQL text, with its def") {
    assert(csimColumns("def s15(q: DataFrame) =\n  q.orderBy(col(\"csim\").desc)\n" +
      "x.select(col( \"csim\" ))\nprivate[graft] def rankedAgainst(v: DataFrame) =\n" +
      "  v.withColumn(\"csim\", x).select(col(\"csim\"))") ===
      Seq((2, "s15"), (3, "s15"), (5, "rankedAgainst")))
    Seq("      |      ORDER BY csim DESC, cell) AS rk FROM qs)",
      "val csim = dot / (qn * cnorm)", "windowLines.forall(_.contains(\"csim\"))")
      .foreach(l => assert(csimColumns(l).isEmpty, l))
  }

  test("the centroid ranking is written once, in Similarity.rankedAgainst") {
    val offenders = sources("src/main/scala").flatMap { case (f, src) =>
      csimColumns(src).filterNot(_._2 == "rankedAgainst" && isSimilarity(f))
        .map { case (line, owner) => s"$f:$line: in def '$owner'" }
    }
    assert(offenders.isEmpty, s"${offenders.size} hand-written centroid " +
      "rankings; rank through llm.Similarity.rankedAgainst:\n" +
      offenders.mkString("\n"))
  }

  test("the layout detector flags IVF child path literals and only those") {
    Seq("Load.parquet(spark, s\"$ivfBase/centroids\")", "s\"${b}/centroids\"",
      "s\"$live/assignments\", Seq(\"cell\"), Seq(\"vec_id\")")
      .foreach(l => assert(ivfLayoutPaths(l).size === 1, l))
    Seq("fs.join(b, \"assignments\")", "s\"$live/codes\", Seq(\"cell\")",
      "s\"$base/centroids/part-0\"", "// centroids/ and assignments/ children")
      .foreach(l => assert(ivfLayoutPaths(l).isEmpty, l))
  }

  test("only llm/Similarity.scala names the IVF artifact's centroids/ and assignments/ paths") {
    val offenders = sources("src/main/scala").filterNot(p => isSimilarity(p._1))
      .flatMap { case (f, src) =>
        ivfLayoutPaths(src).map { case (line, hit) => s"$f:$line: $hit" }
      }
    assert(offenders.isEmpty, s"${offenders.size} IVF layout paths outside " +
      "llm.Similarity; use centroidsAt, invertedListsAt and writeLists:\n" +
      offenders.mkString("\n"))
  }

  test("the quantizer detector flags hand copies outside SQL text, with their def") {
    assert(quantizerCopies("def s11(v: DataFrame) =\n" +
      "  v.withColumn(\"q\", floor(col(\"x\") * lit(1048576.0)).cast(LongType))\n" +
      "private[graft] def quantized(x: Column): Column =\n" +
      "  floor(x * lit(1048576.0)).cast(LongType)") ===
      Seq((2, "s11"), (4, "quantized")))
    Seq("      |    CAST(FLOOR(v[CAST(t.j AS INT) + 1] * 1048576) AS BIGINT) AS q",
      "  .agg((sum(col(\"q\")).cast(DoubleType) / count(lit(1)) / lit(1048576.0))",
      "val RangeRadius: Long = 188743L // floor(0.18 * 1048576)")
      .foreach(l => assert(quantizerCopies(l).isEmpty, l))
  }

  test("the ⌊x·2²⁰⌋ quantizer is written once, in Similarity.quantized") {
    val offenders = sources("src/main/scala").flatMap { case (f, src) =>
      quantizerCopies(src).filterNot(_._2 == "quantized" && isSimilarity(f))
        .map { case (line, owner) => s"$f:$line: in def '$owner'" }
    }
    assert(offenders.isEmpty, s"${offenders.size} hand-written quantizers; " +
      "call llm.Similarity.quantized:\n" + offenders.mkString("\n"))
  }

  test("the release detector flags Checkpoints.release calls and only those") {
    Seq("graft.Checkpoints.release(cached)", "Checkpoints.release(edges)",
      "Checkpoints . release (frame)")
      .foreach(l => assert(releaseCalls(l).size === 1, l))
    Seq("def release(df: DataFrame): Unit =", "release(held)",
      "graft.Checkpoints.converge(seed, n)(step)", "lr.rdd.unpersist(blocking = false)")
      .foreach(l => assert(releaseCalls(l).isEmpty, l))
  }

  test("only Checkpoints and the BPE trainer call Checkpoints.release") {
    val allowed = Set("Checkpoints.scala", "Tokenizer.scala")
    val offenders = sources("src/main/scala")
      .filterNot(p => allowed(p._1.getFileName.toString))
      .flatMap { case (f, src) =>
        releaseCalls(src).map { case (line, hit) => s"$f:$line: $hit" }
      }
    assert(offenders.isEmpty, s"${offenders.size} Checkpoints.release calls; " +
      "iterate through Checkpoints.converge:\n" + offenders.mkString("\n"))
  }

  test("the sweep detector flags persisted-RDD sweeps and only those, with their def") {
    assert(unpersistSweeps(
      "private[graft] def releaseStorage(spark: SparkSession): Unit = {\n" +
      "  spark.sparkContext.getPersistentRDDs.values\n" +
      "    .foreach(_.unpersist(blocking = false))\n" +
      "def main(args: Array[String]): Unit =\n" +
      "  sc.getPersistentRDDs\n    .values.foreach(_.unpersist())") ===
      Seq((2, "releaseStorage"), (5, "main")))
    Seq("val before = spark.sparkContext.getPersistentRDDs.keySet",
      "Bench.releaseStorage(spark)", "lr.rdd.unpersist(blocking = false)")
      .foreach(l => assert(unpersistSweeps(l).isEmpty, l))
  }

  test("the storage release is written once, in Bench.dropStorage") {
    val sites = sources("src/main/scala").flatMap { case (f, src) =>
      unpersistSweeps(src).map { case (line, owner) =>
        (f.getFileName.toString, owner, s"$f:$line: in def '$owner'")
      }
    }
    assert(sites.map(s => (s._1, s._2)) == Seq(("Bench.scala", "dropStorage")),
      s"${sites.size} persisted-RDD sweeps; call Bench.dropStorage:\n" +
        sites.map(_._3).mkString("\n"))
  }
}
