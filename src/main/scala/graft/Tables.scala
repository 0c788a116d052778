package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixture-table catalog: named access to the driver-generated parquet
  * tables (TESTDATA.md) plus temp-view registration so every table is
  * SQL-addressable.
  *
  * This is the Spark-native form of the reference's catalog contract — a
  * named list `table name -> DataFrame` handed to user scripts
  * (`/root/reference/R/DataFrameOperationR.R:84,89,164,189,200`). Where
  * the reference eagerly materializes each table in driver RAM via serial
  * per-file HTTP reads (`R/DataFrameOperationR.R:37-49`), every entry here
  * is a lazy distributed scan: at 100 TB nothing is read until an action,
  * and then only the columns/row-groups the plan needs (vectorized parquet
  * reader + pushdown).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Lazy scan of one fixture table.
    *
    * `events.ts` has been written two ways across fixture generations:
    * parquet TIMESTAMP(NANOS) (which Spark's vectorized reader rejects —
    * read as nano-longs via `spark.sql.legacy.parquet.nanosAsLong` and
    * truncate to microseconds, the same truncation DuckDB applies) and
    * plain TIMESTAMP micros (arrives as TIMESTAMP_NTZ — cast to the
    * session-zoned type, identity on wall-clock under the UTC session).
    * [[normalizeEventsTs]] branches on the LOADED type, so either
    * generation yields the same `timestamp` column downstream.
    *
    * The schema is resolved from the file footer on the driver
    * ([[io.Load.parquet]]): building the catalog starts no Spark job. */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    if (name == "events") {
      // set before the load: the footer is converted under this flag
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normalizeEventsTs(io.Load.parquet(spark, path))
    } else io.Load.parquet(spark, path)
  }

  /** Normalize `ts` to session-zoned microsecond TimestampType from
    * whichever physical form the fixture carries (nano-longs via the
    * legacy flag, TIMESTAMP_NTZ, or already-zoned). Works on batch and
    * streaming frames alike — it only inspects the schema. */
  def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** Scale-adaptive parallelism floor for compute-heavy consumers —
    * the optimization-guide §2.5 "input skew" fix ("one huge
    * unsplittable file … repartition immediately after the read"),
    * derived from input size rather than pinned to any core count.
    *
    * Why it exists: a scan's task count is bounded by its split count,
    * and a split can never cross a parquet row-group boundary — so a
    * table that arrives as few files/row-groups caps the parallelism of
    * EVERYTHING whole-stage-codegen fuses onto the scan (all-pairs
    * kernels, shingle/regex passes, image decodes), no matter how many
    * cores the cluster has. Round-14 profiling measured exactly that:
    * the fixture tables are one file + one row-group each, so the
    * multi-second quadratic kernels ran as ONE task at 0.03 parallel
    * efficiency on 32 cores (ProfMain; OPTIMIZATION_r14.md).
    *
    * The rule is scale-adaptive, not a local-mode constant: spread only
    * when the frame's estimated bytes are below `defaultParallelism ×
    * spark.sql.files.maxPartitionBytes` — i.e. exactly when the scan
    * cannot reach one split per core on its own. At 100 TB (or any
    * input past ~cores×128 MB) the condition is false and this is an
    * identity — no exchange is ever added where the scan already
    * parallelizes. When it does fire the exchange moves < cores ×
    * maxPartitionBytes, by definition the cheapest full pass the
    * cluster can make, and buys every downstream fused operator the
    * full core count.
    *
    * Keyed form hashes on `key` (deterministic routing — safe under
    * task retry, unlike rand-derived keys, guide §2.5) and uses an
    * EXPLICIT partition count so AQE's small-partition coalescing
    * cannot fold the parallelism straight back to one task. Keyless
    * form round-robins (sort-before-repartition keeps retries exact).
    * Order-sensitive consumers are unaffected: every aggregation in
    * the repo is partition-order independent (sort_array'd collects,
    * windowed first/last), a repo-wide invariant since round 3. */
  def spread(df: DataFrame, key: org.apache.spark.sql.Column*): DataFrame = {
    // streaming frames pass through: micro-batch partitioning comes
    // from the source and the stateful operators, and reading batch
    // plan stats off a streaming Dataset is an analysis error (the
    // shingle kernel is shared with stream.StreamDedup)
    if (df.isStreaming) return df
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (size >= BigInt(cores) * maxSplit) df
    else if (key.nonEmpty) df.repartition(cores, key: _*)
    else df.repartition(cores)
  }

  /** [[spread]] keyed by the fact table's natural routing key — the
    * key most consumers join or window on, so the floor's exchange is
    * REUSED as the downstream join/aggregation distribution instead of
    * adding one (lineitem⋈orders on orderkey plans with no further
    * shuffle once both sides are orderkey-hashed at the same count;
    * events windows partition by user_id). Dimension tables pass
    * through untouched: they broadcast, and a parallelism floor on a
    * broadcast build is pure overhead. Opt-in per query: the floor's
    * exchange measured ~0.2-0.4 s (OPTIMIZATION_r14.md), so only
    * queries whose serial kernel costs more call this. */
  def factSpread(spark: SparkSession, sfDir: String,
      name: String): DataFrame = {
    val df = apply(spark, sfDir, name)
    val key = name match {
      case "lineitem" => Some("l_orderkey")
      case "orders" => Some("o_orderkey")
      case "events" => Some("user_id")
      case _ => None
    }
    key match {
      // spec fixtures write column-subset stand-ins for the fact
      // tables (e.g. a 3-column lineitem) — fall back to round-robin
      // rather than requiring the routing key of the full schema
      case Some(k) if df.columns.contains(k) => spread(df, df(k))
      case Some(_) => spread(df)
      case None => df
    }
  }

  /** Load all tables and register each as a temp view (SQL-addressable
    * catalog, same names DuckDB's oracle uses). Idempotent. */
  def registerAll(spark: SparkSession, sfDir: String): Map[String, DataFrame] =
    names.map { n =>
      val df = apply(spark, sfDir, n)
      df.createOrReplaceTempView(n)
      n -> df
    }.toMap
}
