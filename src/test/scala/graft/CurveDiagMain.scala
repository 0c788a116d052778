package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Diagnostic companion to [[ScaleCurveMain]]: the round-14 curves
  * showed s12b (bucketed margin mining) growing FASTER than its
  * quadratic baseline on the synthetic scale-up — this measures WHY,
  * by counting the bucketed path's candidate pairs against the full
  * cross-pair count at each multiplier. Expected on cluster-free
  * jittered vectors with the fixture's PINNED 16 cells: top-3-of-16
  * probing retains P(share ≥ 1 of 3 cells) = 1 − C(13,3)/C(16,3)
  * ≈ 0.49 of ALL pairs — the "cut" keeps half the quadratic while
  * paying explode + distinct + two joins per pair. The lever the
  * production posture documents (centroid count scaling O(√n), data
  * that clusters) is what makes the cut real; this prints the
  * numbers PERF.md records. */
object CurveDiagMain {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus,
      "spark.sql.extensions" -> "graft.GraftExtensions")
    val multipliers =
      if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 2, 4)
    multipliers.foreach { m =>
      val dir = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), s"graft-scalecurve-x$m").toString
      val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
      val srcN = n / 2 // vec_id % 2 == 0 / 1 split in s12/s12b
      val cross = srcN * (n - srcN)
      val cand = graft.llm.Similarity.s12bScoredPairs(spark, dir).count()
      println(s"""{"diag":"s12b_candidates","x":$m,"vecs":$n,""" +
        s""""cross_pairs":$cross,"candidates":$cand,""" +
        s""""fraction":${"%.3f".format(cand.toDouble / cross)}}""")
      // the provisioning lever, measured: the SAME IVF probe shape as
      // s02 (rank top-3 cells, candidates by cell equi-join, top-5 by
      // exact cosine) over centroids trained at k = 16 (the fixture
      // pin) vs k = ceil(sqrt(n)) (the production rule). Train and
      // probe timed separately; probe run twice, second is the warm
      // number the curve records.
      Seq(16, math.ceil(math.sqrt(n.toDouble)).toInt).distinct.foreach { k =>
        val t0 = System.nanoTime()
        val cents = ivfCentroids(spark, dir, k)
        cents.count() // materialize the training
        val tTrain = (System.nanoTime() - t0) / 1e9
        val probes = (1 to 2).map { _ =>
          val t1 = System.nanoTime()
          ivfProbe(spark, dir, cents)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t1) / 1e9
        }
        cents.unpersist()
        def r(v: Double) = String.format(
          java.util.Locale.ROOT, "%.2f", Double.box(v))
        println(s"""{"diag":"ivf_provisioned","x":$m,"vecs":$n,""" +
          s""""cells":$k,"train":${r(tTrain)},""" +
          s""""probe":[${probes.map(r).mkString(",")}]}""")
      }
    }
    spark.stop()
  }

  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.types.LongType

  private def normed(spark: SparkSession, dir: String): DataFrame = {
    spark.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("norm", sqrt(expr("vec_dot(embedding, embedding)")))
  }

  private def ivfCentroids(spark: SparkSession, dir: String,
      k: Int): DataFrame =
    graft.llm.Similarity.ivfTrainCentroids(normed(spark, dir), k)
      .persist()

  /** s02's probe shape over in-memory centroids: top-3 cells per
    * query, candidates by cell equi-join, exact-cosine top-5. */
  private def ivfProbe(spark: SparkSession, dir: String,
      cents: DataFrame): DataFrame = {
    val v = normed(spark, dir)
    val byVec = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("cell").asc)
    val sim = v.join(broadcast(cents), lit(true))
      .withColumn("csim",
        expr("vec_dot(embedding, centroid)") / (col("norm") * col("cnorm")))
      .withColumn("crk", row_number().over(byVec))
    val assigned = sim.filter(col("crk") === 1)
      .select(col("cell"), col("vec_id").as("neighbor_id"),
        col("embedding").as("cv"), col("norm").as("cn"))
    val probes = sim.filter(col("crk") <= 3)
      .select(col("cell"), col("vec_id").as("query_id"),
        col("embedding").as("qv"), col("norm").as("qn"))
    val byQuery = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    probes.join(assigned, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        expr("vec_dot(qv, cv)") / (col("qn") * col("cn")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
      .distinct() // a pair can share up to 3 probed cells
      .withColumn("rn", row_number().over(byQuery))
      .filter(col("rn") <= 5)
  }
}
