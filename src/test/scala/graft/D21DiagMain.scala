package graft

import org.apache.spark.sql.functions._

/** Stage-by-stage diagnosis of the d21 ×8 OOM (round-14 session 2):
  * the within-cell pair volume is provably tiny at ×8 (1.0M pairs,
  * 24k edges — measured in DuckDB over the same scratch corpus), so
  * the heap blow-up must be plan mechanics, not data volume. Each
  * stage materializes separately with a count and a timing; the first
  * stage to OOM is the culprit. */
object D21DiagMain {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus,
      "spark.sql.extensions" -> "graft.GraftExtensions")
    val dir = args.headOption.getOrElse("/tmp/graft-scalecurve-x8")

    def timed[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[d21diag] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    val v = llm.Similarity.normed(spark, dir)
    val n = timed("v.count")(v.count())
    println(s"[d21diag] n=$n")
    val k = llm.Similarity.provisionedCells(v)
    println(s"[d21diag] k=$k")
    val cents = llm.Similarity.ivfTrainCentroids(v, k)
      .localCheckpoint() // cut the training lineage for the later stages
    timed("train.count")(cents.count())
    val ranked = llm.Similarity.rankedAgainst(v, cents)
    val members = ranked.filter(col("cell_rank") === 1)
      .select(col("cell"), col("vec_id"), col("embedding"), col("norm"))
    timed("members.count")(members.count())
    val mc = members.localCheckpoint()
    timed("members.checkpoint.count")(mc.count())
    val a = mc.select(col("cell"), col("vec_id").as("doc_a"),
      col("embedding").as("ea"), col("norm").as("na"))
    val b = mc.select(col("cell"), col("vec_id").as("doc_b"),
      col("embedding").as("eb"), col("norm").as("nb"))
    val edges = a.join(b, Seq("cell"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("cosine",
        expr("vec_dot(ea, eb)") / (col("na") * col("nb")))
      .filter(col("cosine") >= llm.DupClusters.SemDedupThreshold)
      .select(col("doc_a"), col("doc_b"))
    timed("edges.count (from checkpointed members)")(edges.count())
    val cc = timed("cc")(llm.DupClusters.connectedComponents(edges))
    timed("cc.count")(cc.count())

    // now the UNcheckpointed form, exactly as d21 ships (members
    // subtree duplicated under both join sides)
    val a2 = members.select(col("cell"), col("vec_id").as("doc_a"),
      col("embedding").as("ea"), col("norm").as("na"))
    val b2 = members.select(col("cell"), col("vec_id").as("doc_b"),
      col("embedding").as("eb"), col("norm").as("nb"))
    val edges2 = a2.join(b2, Seq("cell"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("cosine",
        expr("vec_dot(ea, eb)") / (col("na") * col("nb")))
      .filter(col("cosine") >= llm.DupClusters.SemDedupThreshold)
      .select(col("doc_a"), col("doc_b"))
    timed("edges.count (shipped shape, duplicated subtree)")(edges2.count())
    spark.stop()
  }
}
