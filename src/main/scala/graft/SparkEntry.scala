package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.VectorExpressions

/** One registered query: its builder over `(session, sf dir)`, the
  * DuckDB-equivalent ANSI SQL its result is hash-compared against (None
  * for non-SQL-expressible ops, which get a rows-only check), and an
  * optional verify shape. A verify shape carries extra verification
  * columns (exact sketch companions) that the production, benched shape
  * must not pay for; only [[Verify]] runs it, in place of `build`. */
final case class Query(name: String, build: Query.Builder,
    oracle: Option[String] = None, verify: Option[Query.Builder] = None)

object Query {
  type Builder = (SparkSession, String) => DataFrame
}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each operator module declares its queries once, as a `registry` of
  * [[Query]] rows; `queries`, `oracleSql` and `verifyOverrides` are
  * derived from those rows, so a name cannot be in one map and missing
  * from another.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.Relational.q01PricingSummary(spark, "/root/testdata/sf0.001")

  /** The full operator inventory (one row per implemented operator from
    * SURVEY.md §2 plus the LLM-pipeline extensions). Fails at
    * initialization if two rows share a name. */
  val registry: Seq[Query] = {
    val all = Seq(
      ops.Relational.registry, ops.Relational2.registry,
      ops.Relational3.registry, ops.Relational4.registry,
      ops.Relational5.registry, ops.Relational6.registry,
      ops.Relational7.registry, ops.Relational8.registry,
      ops.AsOf.registry,
      llm.Dedup.registry, llm.DupClusters.registry, llm.Similarity.registry,
      llm.IndexDelete.registry, llm.TextStats.registry,
      llm.TextClean.registry, llm.Tokenizer.registry,
      llm.Multimodal.registry, llm.Pipeline.registry,
      llm.Authority.registry, llm.Retrieval.registry,
      stream.EventWindows.registry).flatten
    val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }

  /** Every builder installs the graft functions and planner strategy on
    * its session first, so sessions built without [[GraftExtensions]]
    * run every query. */
  private def installing(build: Query.Builder): Query.Builder =
    (spark, dir) => { VectorExpressions.register(spark); build(spark, dir) }

  val queries: Map[String, Query.Builder] =
    registry.map(q => q.name -> installing(q.build)).toMap

  /** Verify-shape overlays, applied by [[Verify]] only. */
  val verifyOverrides: Map[String, Query.Builder] =
    registry.flatMap(q => q.verify.map(v => q.name -> installing(v))).toMap

  val oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
