package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-off empirical scale curves for the quadratic-baseline ↔
  * scale-twin pairs (VERDICT r13 #4): the 100× claims rest on plan
  * shape; this measures them once. Scales the sf0.1 `documents` and
  * `embeddings` fixtures by integer multipliers (1×, 2×, 4× by
  * default) and times each baseline against its twins at every size,
  * so PERF.md can record where the quadratic baselines cross the
  * bucketed/artifact-served paths.
  *
  * Scaling is union-of-perturbed-copies, ids offset per copy:
  *  - `text`: every word gets a per-copy suffix, so copies of one
  *    document are NOT near-duplicates of each other (a plain copy
  *    would plant an m-clique of near-dups per document and measure
  *    an artificial dedup regime, not a bigger corpus);
  *  - `embedding`: deterministic per-(vec, dim, copy) jitter, so no
  *    exact-duplicate vectors and a realistic neighbor structure.
  *
  * Each query runs `Runs` times back-to-back per size (fresh storage
  * layer each run, same as Bench): run 1 carries any artifact build
  * (the scaled dir is a fresh corpus → fresh artifact), later runs
  * are the serving cost. Output: one JSON line per (multiplier,
  * query) with all runs — curve analysis separates train from probe —
  * and, per run, the fixpoint rounds it spent (`Checkpoints.rounds`).
  * Scratch data lands under java.io.tmpdir and is reused across
  * invocations of the same multiplier. */
object ScaleCurveMain {

  /** Round-14 session 1 measured the pinned-16 twins (recorded in
    * PERF.md — s02 tracks the quadratic, d11 OOMs at ×4, s12b
    * inverts); this list now carries the ⌈√n⌉-PROVISIONED twins those
    * findings motivated, re-measured against the same baselines on
    * the same box. d11 is dropped from the ×4 sweep (its OOM is the
    * recorded finding; d21 is the fix under test). */
  private val Pairs: Seq[(String, Seq[String])] = Seq(
    "s01_cosine_topk" -> Seq("s02_ivf_topk", "s34_ivf_provisioned"),
    "d06_embedding_near_dup" -> Seq("d21_semdedup_provisioned"),
    "s12_bitext_margin" -> Seq("s12b_bitext_bucketed",
      "s12c_bitext_provisioned"))

  private val IdOffset = 10_000_000L

  private def scaledCopy(df: DataFrame, k: Int): DataFrame = {
    var out = df
    if (out.columns.contains("doc_id"))
      out = out.withColumn("doc_id", col("doc_id") + lit(k * IdOffset))
    if (out.columns.contains("vec_id"))
      out = out.withColumn("vec_id", col("vec_id") + lit(k * IdOffset))
    if (k > 0 && out.columns.contains("text"))
      out = out.withColumn("text",
        regexp_replace(col("text"), "([A-Za-z0-9]+)", s"$$1z$k"))
    if (k > 0 && out.columns.contains("embedding"))
      out = out.withColumn("embedding", expr(
        s"""transform(embedding, (x, i) ->
           |  cast(x + (pmod(xxhash64(vec_id, i, $k), 101) - 50)
           |           * 0.002f as float))""".stripMargin))
    out
  }

  /** Scale both fixture tables by `m` into a scratch SF dir; reused
    * when already present (marker file). */
  private def scaledDir(spark: SparkSession, src: String, m: Int): String = {
    val out = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft-scalecurve-x$m").toString
    val done = java.nio.file.Paths.get(out, "_SCALED")
    if (!java.nio.file.Files.exists(done)) {
      Seq("documents", "embeddings").foreach { t =>
        val base = Tables(spark, src, t)
        (0 until m).map(scaledCopy(base, _)).reduce(_.unionAll(_))
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
      java.nio.file.Files.write(done, Array.empty[Byte])
    }
    out
  }

  def main(args: Array[String]): Unit = {
    val multipliers =
      if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 2, 4)
    val runs = sys.env.getOrElse("SPARK_GRAFT_CURVE_RUNS", "2").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus,
      "spark.sql.extensions" -> "graft.GraftExtensions")
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_CURVE_ONLY: comma-separated query-name allowlist, so
    // a large-multiplier sweep can measure a specific crossover without
    // paying every quadratic baseline at that size
    val only = sys.env.get("SPARK_GRAFT_CURVE_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val queries = Pairs.flatMap { case (b, twins) => b +: twins }
      .filter(q => only.forall(_.contains(q)))
    // warm-up at sf0.001: JIT/codegen, charged to no timed run
    val warmDir = new java.io.File(
      new java.io.File(src).getParentFile, "sf0.001").getPath
    queries.foreach { q =>
      try SparkEntry.queries(q)(spark, warmDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[curve] warm-up $q failed: ${e.getMessage}") }
    }
    multipliers.foreach { m =>
      val dir = scaledDir(spark, src, m)
      val rows = spark.read.parquet(s"$dir/embeddings.parquet").count()
      queries.foreach { q =>
        val timed = (1 to runs).map { _ =>
          Bench.releaseStorage(spark)
          val r0 = Checkpoints.rounds.get()
          val t0 = System.nanoTime()
          val ok = try {
            SparkEntry.queries(q)(spark, dir)
              .write.format("noop").mode("overwrite").save(); true
          } catch { case e: Throwable =>
            System.err.println(s"[curve] $q x$m failed: ${e.getMessage}")
            false
          }
          val wall = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
          (wall, Checkpoints.rounds.get() - r0)
        }
        def r(v: Double) = String.format(
          java.util.Locale.ROOT, "%.2f", Double.box(v))
        println(s"""{"curve":"$q","x":$m,"vecs":$rows,""" +
          s""""runs":[${timed.map(t => r(t._1)).mkString(",")}],""" +
          s""""rounds":[${timed.map(_._2).mkString(",")}]}""")
      }
    }
    spark.stop()
  }
}
