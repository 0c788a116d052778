package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{ArtifactStore, Load}

/** [[Load.parquet]] resolves on the driver the schema Spark's inference
  * would produce: the same schema and rows as `spark.read.parquet`, and
  * no Spark job to build the frame. Every layout it leaves to Spark
  * (empty, partitioned, unreadable, missing) behaves exactly as the
  * inferring read, errors included. */
class LoadParquetSpec extends AnyFunSuite {
  import SparkTestSession._

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Same schema and rows as the inferring read; resolving the schema
    * starts no job. */
  private def assertParity(path: String): Unit = withClue(s"$path: ") {
    val (schema, jobs) = jobsDuring(Load.parquet(spark, path).schema)
    val inferred = spark.read.parquet(path)
    assert(schema === inferred.schema)
    assert(jobs === 0)
    assert(Load.parquet(spark, path).collect().toSeq ===
      inferred.collect().toSeq)
  }

  private def rootCause(t: Throwable): Throwable =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last

  /** Both reads succeed with the same schema and rows, or both fail
    * with the same root error. */
  private def assertSameAsSpark(path: String): Unit = withClue(s"$path: ") {
    def rows(df: DataFrame) = (df.schema, df.collect().toSeq)
    (Try(rows(spark.read.parquet(path))), Try(rows(Load.parquet(spark, path)))) match {
      case (Success(expected), Success(got)) => assert(got === expected)
      case (Failure(e), Failure(g)) =>
        assert(rootCause(g).getClass === rootCause(e).getClass)
        assert(rootCause(g).getMessage === rootCause(e).getMessage)
      case (expected, got) => fail(s"spark.read.parquet: $expected, Load.parquet: $got")
    }
  }

  private def tempDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Move the one data file `df` writes to `file`. */
  private def writeOneFile(df: DataFrame, file: String): Unit = {
    val out = tempDir("graft_one")
    df.coalesce(1).write.mode("overwrite").parquet(out)
    val part = new java.io.File(out).listFiles
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, new java.io.File(file).toPath)
  }

  /** The fixture's events with `ts` as parquet TIMESTAMP(NANOS) — the
    * older fixture generation — written without Spark's schema
    * metadata, so the footer's parquet types are all there is. */
  private def writeNanosEvents(file: String): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional int64 user_id;
        |  optional binary event_type (STRING);
        |  optional double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val rows = Tables(spark, sf, "events")
      .select(col("event_id"), (unix_micros(col("ts")) * 1000L).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .collect()
    val groups = new SimpleGroupFactory(schema)
    val names = schema.getFields.asScala.map(_.getName).toSeq
    val w = ExampleParquetWriter.builder(new Path(file)).withType(schema)
      .withConf(spark.sessionState.newHadoopConf()).build()
    try rows.foreach { r =>
      val g = groups.newGroup()
      names.zipWithIndex.filterNot { case (_, i) => r.isNullAt(i) }
        .foreach { case (n, i) =>
          r.get(i) match {
            case v: Long => g.append(n, v)
            case v: Double => g.append(n, v)
            case v: String => g.append(n, v)
          }
        }
      w.write(g)
    } finally w.close()
  }

  test("every fixture table: footer schema == inferred schema, zero jobs") {
    spark.conf.set(NanosAsLong, "true")
    Tables.names.foreach(t => assertParity(s"$sf/$t.parquet"))
    val (_, jobs) = jobsDuring(Tables.registerAll(spark, sf).values.map(_.schema))
    assert(jobs === 0, "building the catalog started Spark jobs")
  }

  test("events under both ts encodings: same frame from Tables, zero jobs") {
    spark.conf.set(NanosAsLong, "true")
    assert(spark.read.parquet(s"$sf/events.parquet").schema("ts").dataType ===
      TimestampNTZType)
    val nanosDir = tempDir("graft_events_nanos")
    writeNanosEvents(s"$nanosDir/events.parquet")
    assertParity(s"$nanosDir/events.parquet")
    assert(Load.parquet(spark, s"$nanosDir/events.parquet")
      .schema("ts").dataType === LongType)

    val (micros, j1) = jobsDuring { val d = Tables(spark, sf, "events"); d.schema; d }
    val (nanos, j2) = jobsDuring { val d = Tables(spark, nanosDir, "events"); d.schema; d }
    assert(j1 === 0 && j2 === 0)
    assert(micros.schema === nanos.schema)
    assert(micros.schema("ts").dataType === TimestampType)
    assert(nanos.orderBy("event_id").collect().toSeq ===
      micros.orderBy("event_id").collect().toSeq)

    // without the flag Spark rejects NANOS; the helper fails the same way
    spark.conf.set(NanosAsLong, "false")
    try assertSameAsSpark(s"$nanosDir/events.parquet")
    finally spark.conf.set(NanosAsLong, "true")
  }

  test("artifact frames: centroids, totals, codebook, params") {
    Seq("s16_", "s17_").foreach { p =>
      SparkEntry.queries.find(_._1.startsWith(p)).get._2(spark, sf)
    }
    val frames = Seq(
      s"${llm.Similarity.ivfIndexBase(spark, sf)}/centroids",
      s"${ArtifactStore.artifactPath("ivf-index-inc", sf)}/centroids",
      s"${llm.Retrieval.bm25IndexBase(spark, sf)}/totals",
      s"${ArtifactStore.artifactPath("bm25-index-inc", sf)}/totals",
      s"${llm.Similarity.pqIndexBase(spark, sf)}/codebook",
      s"${llm.Similarity.sqIndexBase(spark, sf)}/params")
    frames.foreach(assertParity)
    // the appended incremental totals are several files: base + delta
    assert(spark.read.parquet(frames(3)).inputFiles.length >= 2)
  }

  test("layouts left to Spark behave exactly as spark.read.parquet") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("tag", StringType)))
    val df = spark.range(20).select(col("id"),
      (col("id") % 3).cast(StringType).as("tag"))

    // no files at all, and a marker but no data file
    val empty = tempDir("graft_empty_artifact")
    assertSameAsSpark(empty)
    val successOnly = tempDir("graft_success_only")
    Files.createFile(new java.io.File(successOnly, "_SUCCESS").toPath)
    assertSameAsSpark(successOnly)
    assertSameAsSpark(s"$empty/missing")

    // a zero-length data file: the footer read fails either way
    val zero = tempDir("graft_zero_length")
    Files.createFile(new java.io.File(zero, "part-00000.parquet").toPath)
    assertSameAsSpark(zero)

    // an empty frame's write: schema-only file, zero rows
    val emptyFrame = tempDir("graft_empty_frame")
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      .write.mode("overwrite").parquet(emptyFrame)
    assertParity(emptyFrame)
    assert(Load.parquet(spark, emptyFrame).isEmpty)

    // a partitioned dir: partition columns are discovered as before
    val partitioned = tempDir("graft_partitioned")
    df.write.mode("overwrite").partitionBy("tag").parquet(partitioned)
    assertSameAsSpark(partitioned)
    assert(Load.parquet(spark, partitioned).columns.toSeq === Seq("id", "tag"))
  }

  test("differing files: the schema is the first file's by path, as Spark's") {
    val narrow = spark.range(5).toDF("id")
    val wide = spark.range(5, 10).select(col("id"),
      col("id").cast(StringType).as("extra"))
    Seq(("a", "b"), ("b", "a")).foreach { case (wideName, narrowName) =>
      val dir = tempDir("graft_mixed")
      writeOneFile(wide, s"$dir/part-$wideName.parquet")
      writeOneFile(narrow, s"$dir/part-$narrowName.parquet")
      assertParity(dir)
      val merged = Map("mergeSchema" -> "true")
      assert(Load.parquet(spark, dir, merged).schema ===
        spark.read.options(merged).parquet(dir).schema)
    }
  }
}
