package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.TableCatalog
import graft.io.{Manifest, Store}
import graft.udf.{DerivedColumn, PmmlSerializer}

object Inputs {
  /** Fresh copy of the fixture tables: one symlink per parquet file,
    * so every pass reads the same bytes under a new directory name. */
  def linkTables(data: File, dir: File): Unit = {
    dir.mkdirs()
    graft.Tables.names.foreach { n =>
      Files.createSymbolicLink(new File(dir, s"$n.parquet").toPath,
        new File(data, s"$n.parquet").getAbsoluteFile.toPath)
    }
  }

  def delete(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .forEach(Files.delete(_))

  def bytesUnder(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).iterator.asScala
        .filter(f => Files.isRegularFile(f)).toSeq
      (files.length.toLong, files.map(Files.size).sum)
    }

  /** Query ops: time the builder call (where driver-side jobs run)
    * apart from the write of the returned frame. The check pass writes
    * the verify-shape result as one parquet file; timed passes write to
    * the noop sink, as graft.Bench does. */
  def query(ctx: Ctx, name: String, phase: String, dir: File,
      check: Option[File]): OpRun = {
    val fn = check.flatMap(_ => graft.SparkEntry.verifyOverrides.get(name))
      .getOrElse(graft.SparkEntry.queries(name))
    ctx.op(name, phase) {
      val df = ctx.span("driver.build")(fn(ctx.spark, dir.getPath))
      ctx.span("exec") {
        check match {
          case Some(c) => df.coalesce(1).write.mode("overwrite")
            .parquet(new File(c, name).getPath)
          case None => df.write.format("noop").mode("overwrite").save()
        }
      }
    }
  }

  def byPrefix(prefixes: Seq[String]): Seq[String] = {
    val names = graft.SparkEntry.queries.keySet
    prefixes.map(p => names.find(_.startsWith(p + "_")).getOrElse(
      throw new NoSuchElementException(s"no query $p")))
  }
}

/** index_lifecycle: every pass links the corpus into a fresh directory
  * (artifacts are keyed by corpus directory), so the cold phase builds
  * and publishes each index — s10's BM25 build, s16's IVF build plus
  * incremental append — and the warm phase then serves the same
  * queries from the published artifacts, three times over, in seed
  * order. The cold phase runs in a fixed order: whichever build runs
  * first pays the index code's first-touch cost, so a seed-drawn order
  * would split cold CPU time into two modes. No pass precedes
  * the first timed one, so it is also the process's first touch of
  * every index code path, as for a dataflow node's job that trains an
  * index. */
final class IndexLifecycle(spark: SparkSession, data: File, seed: Long)
    extends Workload {
  private val ops = Inputs.byPrefix(Seq("s10", "s16"))
  /** The artifact kinds the cold phase must build, one each. */
  private val Kinds = Set("bm25-index", "ivf-index-inc")
  private val WarmRounds = 3
  private val root = new File(sys.env.getOrElse(graft.GraftConfig.EnvArtifactDir,
    throw new IllegalStateException("the artifact root must be set")))
  var checks: Seq[Check] = Seq.empty

  def setup(dir: File): Unit = {
    Inputs.linkTables(data, dir)
    // register the catalog and count the corpus, the input validation
    // a node runs before its script
    val tables = graft.Tables.registerAll(spark, dir.getPath)
    Seq("documents", "embeddings").foreach(tables(_).count())
  }

  /** Every artifact marker under the root, with its content and
    * modification time: a build or an in-place update rewrites it. */
  private def markers(): Map[String, (Long, String)] =
    if (!root.isDirectory) Map.empty
    else Files.walk(root.toPath).iterator.asScala
      .filter(_.getFileName.toString == "_FINGERPRINT")
      .map(p => p.getParent.toString ->
        (Files.getLastModifiedTime(p).toMillis, Files.readString(p)))
      .toMap

  private def changed(before: Map[String, (Long, String)],
      after: Map[String, (Long, String)]): Set[String] =
    after.collect { case (k, v) if !before.get(k).contains(v) => k }.toSet

  /** Cold and warm phase; with `check` set, one more warm round,
    * untimed, writes each query's result for the DuckDB comparison. */
  def pass(ctx: Ctx, dir: File, passNo: Int, check: Option[File]): PassOut = {
    val rng = new scala.util.Random(seed * 1000 + passNo)
    val slug = dir.getPath.replaceAll("[^A-Za-z0-9._-]", "_")
    def mine(m: Map[String, (Long, String)]) = m.filter(_._1.endsWith(slug))
    val m0 = mine(markers())
    val cold = ops.map(q =>
      Inputs.query(ctx, q, "cold", dir, None))
    val m1 = mine(markers())
    val warm = (1 to WarmRounds).flatMap(_ => rng.shuffle(ops).map(q =>
      Inputs.query(ctx, q, "warm", dir, None)))
    val m2 = mine(markers())
    val built = changed(m0, m1)
    val kinds = built.map(b => new File(b).getParentFile.getName)
    val rebuilt = changed(m1, m2)
    val (files, bytes) = m2.keys.toSeq.map(b => Inputs.bytesUnder(new File(b).toPath))
      .foldLeft((0L, 0L)) { case ((f, b), (f2, b2)) => (f + f2, b + b2) }
    val input = Seq("documents", "embeddings")
      .map(n => Files.size(new File(data, s"$n.parquet").toPath)).sum
    // the cold phase must really be cold: exactly one build of every
    // kind the queries use, and the warm phase must rebuild nothing
    val coldOk = built.size == Kinds.size && kinds == Kinds && rebuilt.isEmpty
    if (!coldOk) System.err.println(s"[perfbench] cold/warm invariant broken: " +
      s"built=${kinds.toSeq.sorted.mkString(",")} expected=" +
      s"${Kinds.toSeq.sorted.mkString(",")} rebuilt=${rebuilt.size}")
    val checked = check.toSeq.flatMap { c =>
      checks = ops.map(q => Check(q, "sql", Map(
        "result" -> new File(c, q).getPath, "data" -> data.getPath,
        "oracle" -> graft.SparkEntry.oracleSql(q))))
      ctx.untimed(ops.map(q => Inputs.query(ctx, q, "check", dir, Some(c))))
    }
    PassOut(cold ++ warm, Map(
      "index_build_s" -> cold.map(_.wall).sum,
      "write_amp" -> bytes.toDouble / input), Map(
      "io.artifact.builds" -> built.size.toDouble,
      "io.artifact.kinds" -> kinds.size.toDouble,
      "io.artifact.rebuilds_warm" -> rebuilt.size.toDouble / warm.length,
      "io.artifact.files" -> files.toDouble,
      "io.artifact.mb" -> bytes / 1048576.0),
      checked, if (coldOk) 0 else 1)
  }
}

/** node_chain: the reference's node lifecycle. Set-up writes a
  * seed-sampled lineitem and orders as headerless CSV part-file
  * directories plus the table manifest; each pass runs three nodes,
  * each discovering its upstream from the previous node's status
  * record, joining, deriving a column, publishing CSV + sidecar + PMML
  * and reporting its status. */
final class NodeChain(spark: SparkSession, data: File, seed: Long) extends Workload {
  private case class Node(id: String, caption: String, dc: DerivedColumn,
      transform: TableCatalog => DataFrame)

  private def derived(out: String, a: String, b: String, script: String,
      f: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column) =
    DerivedColumn(out, "double", Seq(a, b), script,
      Some(cs => f(cs(0), cs(1))))

  private def orders(cat: TableCatalog, suffix: String): DataFrame =
    cat("orders").select(col("o_orderkey").as(s"k$suffix"),
      col("o_totalprice").as(s"total$suffix"))

  private val nodes = Seq(
    Node("n1", "Revenue",
      derived("revenue", "l_extendedprice", "l_discount",
        "revenue = l_extendedprice * (1 - l_discount)", (p, d) => p * (lit(1.0) - d)),
      cat => cat("lineitem").join(cat("orders"), col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
          "l_discount", "o_custkey", "o_orderpriority")),
    Node("n2", "Share",
      derived("share", "revenue", "total2", "share = revenue / total2", _ / _),
      cat => cat("Revenue_1").join(orders(cat, "2"), col("l_orderkey") === col("k2"))
        .drop("k2")),
    Node("n3", "Weighted",
      derived("weighted", "share", "l_quantity", "weighted = share * l_quantity", _ * _),
      cat => cat("Share_1").join(orders(cat, "3"), col("l_orderkey") === col("k3"))
        .drop("k3")))

  private var checkOut = Seq.empty[Check]

  private val lineitemCols = Seq("l_orderkey" -> "long", "l_partkey" -> "long",
    "l_quantity" -> "double", "l_extendedprice" -> "double", "l_discount" -> "double")
  private val ordersCols = Seq("o_orderkey" -> "long", "o_custkey" -> "long",
    "o_totalprice" -> "double", "o_orderpriority" -> "string")

  private def manifestJson(dir: File): String = {
    def entry(name: String, cols: Seq[(String, String)]) =
      s"""{"TABLE_NAME": "$name", "DataLocation": "${new File(dir, name).getAbsolutePath}",
         | "ColumnList": [${cols.map(c => s"""{"MappedAliasName": "${c._1}"}""").mkString(", ")}],
         | "ColumnTypeList": [${cols.map(c => "\"" + c._2 + "\"").mkString(", ")}]}""".stripMargin
    s"""{"ResponseData": {"TableList": [${entry("lineitem", lineitemCols)},
       | ${entry("orders", ordersCols)}]}}""".stripMargin
  }

  /** Headerless CSV part files of a seed-sampled three quarters of
    * lineitem and orders, plus the manifest that names them. */
  def setup(dir: File): Unit = {
    dir.mkdirs()
    def write(name: String, cols: Seq[(String, String)], key: Seq[String]): Unit =
      spark.read.parquet(new File(data, s"$name.parquet").getPath)
        .where(pmod(xxhash64((lit(seed) +: key.map(col)): _*), lit(4L)) =!= 0)
        .select(cols.map(c => col(c._1)): _*)
        .repartition(2).write.option("header", "false")
        .csv(new File(dir, name).getPath)
    write("lineitem", lineitemCols, Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"))
    write("orders", ordersCols, Seq("o_orderkey"))
    Files.writeString(new File(dir, "manifest.json").toPath, manifestJson(dir))
  }

  /** Embed the escaped sidecar in a JSON string literal, as the control
    * plane stores a status record's `Result`. */
  private def embed(escaped: String): String =
    escaped.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")

  def pass(ctx: Ctx, dir: File, passNo: Int, check: Option[File]): PassOut = {
    val manifest = Files.readString(new File(dir, "manifest.json").toPath)
    val outBase = new File(dir, "out").getAbsolutePath
    val reporter = new Store.InMemoryReporter
    var upstream: Option[(String, String, String)] = None
    val checks = Seq.newBuilder[Check]
    val runs = nodes.map { node =>
      ctx.op(node.id, "op") {
        val cat = ctx.span("catalog.load") {
          val c = new TableCatalog(ctx.spark).loadManifest(manifest)
          upstream.foreach { case (id, caption, status) =>
            c.loadUpstream(Manifest.latestOutput(status, id, caption).getOrElse(
              throw new IllegalStateException(s"no completed output for $id")))
          }
          c
        }
        val result = ctx.span("driver.build")(node.dc(node.transform(cat)))
        val meta = ctx.span("io.store.write")(Store.writeCsvWithMeta(result, outBase))
        ctx.span("udf.pmml") {
          val pmml = PmmlSerializer.serialize(node.dc, node.dc.inputColumns.map(_ => "double"))
          Store.writePmml(result, meta.ModelLocation, pmml)
        }
        reporter.report(Store.JobStatus(s"application_perfbench_$passNo", node.id,
          Store.StatusCompleted, meta.DataLocation, meta.toEscapedJson))
        val rec = reporter.all.last
        upstream = Some((node.id, node.caption,
          s"""{"JobsStatus": [{"Status": ${rec.status}, "JobNodeID": "${rec.nodeId}",
             | "Result": "${embed(rec.message)}"}]}""".stripMargin))
        checks += Check(node.id, "node", Map(
          "result" -> meta.DataLocation, "columns" -> meta.MetaData,
          "types" -> meta.MetaDataType, "pmml" -> meta.PMMLLocation,
          "data" -> dir.getAbsolutePath))
      }
    }
    if (check.isDefined) checkOut = checks.result()
    val input = Seq("lineitem", "orders")
      .map(n => Inputs.bytesUnder(new File(dir, n).toPath)._2).sum
    val (files, bytes) = Inputs.bytesUnder(new File(outBase).toPath)
    PassOut(runs, Map("write_amp" -> bytes.toDouble / input),
      Map("io.store.files" -> files.toDouble, "io.store.mb" -> bytes / 1048576.0))
  }

  override def warmupPasses: Int = 3
  override def minPasses: Int = 5
  def checks: Seq[Check] = checkOut
}

/** Rows/s of the engine's registered kernels over a fixed input: the
  * sf corpus replicated to a fixed row count and cached, then one
  * single-expression projection per kernel written to the noop sink
  * (median of three). */
object KernelProbe {
  val TextRows = 100000
  val VecRows = 200000

  def run(spark: SparkSession, data: File): Map[String, Double] = {
    graft.functions.VectorExpressions.register(spark)
    val cores = spark.sparkContext.defaultParallelism
    def replicated(table: String, cols: Seq[String], rows: Int): DataFrame = {
      val base = spark.read.parquet(new File(data, s"$table.parquet").getPath)
        .select(cols.map(col): _*)
      val n = base.count()
      val df = base.crossJoin(spark.range((rows + n - 1) / n))
        .select(cols.map(col): _*).limit(rows).repartition(cores).cache()
      df.count()
      df
    }
    val text = replicated("documents", Seq("text"), TextRows)
      .selectExpr("text", "split(text, ' ') AS tokens",
        "word_shingles3(text) AS shingles").cache()
    text.count()
    val vec = replicated("embeddings", Seq("embedding"), VecRows)
    text.createOrReplaceTempView("probe_text")
    vec.createOrReplaceTempView("probe_vec")
    val kernels = Seq(
      "word_shingles3" -> ("probe_text", "word_shingles3(text)", TextRows),
      "rolling_hashes" -> ("probe_text", "rolling_hashes(text)", TextRows),
      "minhash_sig" -> ("probe_text", "minhash_sig(shingles)", TextRows),
      "simhash64" -> ("probe_text", "simhash64(tokens)", TextRows),
      "vec_dot" -> ("probe_vec", "vec_dot(embedding, embedding)", VecRows),
      "vec_quant" -> ("probe_vec", "vec_quant(embedding, CAST(127 AS DOUBLE))", VecRows))
    val out = kernels.map { case (name, (view, e, rows)) =>
      val times = (0 until 4).map { _ =>
        val t0 = System.nanoTime()
        spark.sql(s"SELECT $e AS k FROM $view").write.format("noop")
          .mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.drop(1)
      s"functions.$name.rows_per_s" -> rows / Stats.median(times)
    }.toMap
    spark.catalog.clearCache()
    out
  }
}
