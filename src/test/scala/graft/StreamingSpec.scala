package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.CodeTable.{Bq, Pq, Sq}
import graft.llm.IndexFamily
import graft.stream.EventWindows
import graft.stream.IndexIngest.DefaultApp

/** Structured Streaming behavior: the batch window queries re-run as real
  * streaming queries against a file source + memory sink. */
class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val eventsDir: String = {
    // File streams need a directory source; stage the single-file fixture.
    val dir = java.nio.file.Files.createTempDirectory("events-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("part-00000.parquet"))
    dir.toString
  }

  private def streamingEvents() = {
    // Stream the events fixture through the same ts normalization Tables
    // applies, with an explicit schema (required for file streams) taken
    // from the staged file itself so either fixture generation works.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(eventsDir).schema
    Tables.normalizeEventsTs(
      spark.readStream.schema(schema).parquet(eventsDir))
  }

  test("st08 gap fill: complete hour axis, real zeros, counts match st01") {
    val rows = stream.EventWindows.st08GapFill(spark, sf).collect()
    val hours = rows.map(_.getTimestamp(0).getTime)
    // a complete, step-exact hour axis from min to max
    assert(hours.zip(hours.tail).forall { case (a, b) => b - a == 3600000L })
    // the sf0.001 stream is sparse enough to have genuinely silent hours
    val zeros = rows.count(_.getLong(1) == 0L)
    assert(zeros > 0, "expected silent hours at sf0.001")
    // nonzero rows must agree with st01's per-hour totals across types
    val st01 = stream.EventWindows.st01TumblingHourly(spark, sf).collect()
      .groupBy(_.getTimestamp(0)).view
      .mapValues(_.map(_.getAs[Long]("n")).sum).toMap
    rows.filter(_.getLong(1) > 0L).foreach { r =>
      assert(st01(r.getTimestamp(0)) == r.getLong(1))
    }
    assert(rows.length == st01.size + zeros)
  }

  test("streaming hourly counts equal the batch result") {
    val q = EventWindows.streamingHourlyCounts(streamingEvents())
      .writeStream.outputMode("complete")
      .format("memory").queryName("hourly").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("hourly")
        .select("hour_start", "event_type", "n").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      val batch = EventWindows.st01TumblingHourly(spark, sf)
        .select("hour_start", "event_type", "n").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("stream-static join: broadcast dimension enrichment equals batch") {
    // the remaining join shape: a stream enriched against a STATIC
    // (batch) dimension — Spark re-plans the static side per
    // micro-batch and the broadcast needs no watermark/state. The dim
    // here is a per-user tier derived from the batch events (any
    // static frame works); parity: streamed per-(tier, type) counts
    // == the same batch join.
    val dim = Tables(spark, sf, "events")
      .select(col("user_id")).distinct()
      .withColumn("tier", (col("user_id") % 3).cast("string"))
    val enriched = streamingEvents()
      .join(broadcast(dim), "user_id")
      .groupBy(col("tier"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = enriched.writeStream.outputMode("complete")
      .format("memory").queryName("tiered").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("tiered").collect()
        .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("n"))).toSet
      val batch = Tables(spark, sf, "events")
        .join(broadcast(dim), "user_id")
        .groupBy(col("tier"), col("event_type"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("n"))).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("stateful streaming: mapGroupsWithState running counts match batch") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val counts = graft.stream.Stateful.runningCounts(
      streamingEvents()
        .selectExpr("user_id", "event_id")
        .as[(Long, Long)]
        .groupByKey(_._1))
    val q = counts.toDF("user_id", "n")
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("state_counts").start()
    try {
      q.processAllAvailable()
      // take the last update per user (memory sink appends each update)
      val streamed = spark.table("state_counts")
        .groupBy("user_id").agg(max("n").as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = Tables(spark, sf, "events")
        .groupBy("user_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed === batch)
    } finally q.stop()
  }

  test("transformWithState: per-user value totals match batch") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode

    // transformWithState needs a column-family-capable state store
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val totals = graft.stream.Stateful.runningTotals(
      streamingEvents()
        .selectExpr("user_id", "value")
        .as[(Long, Double)]
        .groupByKey(_._1))

    val q = totals.toDF("user_id", "total")
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("tws_totals").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("tws_totals")
        .groupBy("user_id").agg(max("total").as("total"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val batch = Tables(spark, sf, "events")
        .groupBy("user_id").agg(sum("value").as("total"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(streamed.keySet === batch.keySet)
      streamed.foreach { case (u, t) =>
        assert(math.abs(t - batch(u)) < 1e-9, s"user $u")
      }
    } finally q.stop()
  }

  test("streaming forward fill equals the batch q70 on an in-order source") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    // plant the same holes q70 plants (event_id % 5 = 0), carry ts as
    // micros so ordering inside the group function is exact
    val in = streamingEvents()
      .selectExpr("user_id",
        "unix_micros(ts) AS ts_micros", "event_id",
        "CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v")
      .as[(Long, Long, Long, Option[Double])]
      .map { case (u, t, e, v) => graft.stream.Stateful.FillIn(u, t, e, v) }
    val filled = graft.stream.Stateful.forwardFill(in.groupByKey(_.userId))
    val q = filled.toDF("user_id", "event_id", "was_missing", "filled")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("stream_fill").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_fill").collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getBoolean(2), if (r.isNullAt(3)) null else r.getDouble(3)))
        .toMap
      val batch = ops.Relational6.q70ForwardFill(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getBoolean(3), if (r.isNullAt(4)) null else r.getDouble(4)))
        .toMap
      assert(streamed.size == batch.size)
      assert(streamed === batch)
      // the parity is non-trivial: holes exist and some were filled
      assert(streamed.values.exists { case (miss, f) => miss && f != null })
    } finally q.stop()
  }

  test("streaming forward fill carries state ACROSS micro-batches") {
    // the reason the streaming form exists: a hole arriving hours (here:
    // one batch) after the last good reading still fills from it, while
    // a key with no observation ever stays null. Two staged files +
    // maxFilesPerTrigger=1 force two genuine micro-batches.
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val srcDir = Files.createTempDirectory("fill-src").toString
    def stage(rows: Seq[(Long, Long, Long, Option[Double])], tag: String): Unit = {
      val tmp = Files.createTempDirectory("fill-half").toString
      rows.toDF("userId", "tsMicros", "eventId", "v")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(srcDir, s"$tag.parquet"))
    }
    // batch 1: user 1 observes 10.5 then a hole; user 2 only holes
    stage(Seq((1L, 1L, 1L, Some(10.5)), (1L, 2L, 2L, None),
      (2L, 1L, 3L, None)), "b1")
    val schema = Seq((1L, 1L, 1L, Option(1.0)))
      .toDF("userId", "tsMicros", "eventId", "v").schema
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .as[graft.stream.Stateful.FillIn]
    val filled = graft.stream.Stateful.forwardFill(in.groupByKey(_.userId))
    val q = filled.toDF("user_id", "event_id", "was_missing", "filled")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("stream_fill_xbatch").start()
    try {
      q.processAllAvailable()
      // batch 2: both users hole — user 1 must fill from batch 1's 10.5,
      // user 2 has still never observed anything
      stage(Seq((1L, 3L, 4L, None), (2L, 2L, 5L, None)), "b2")
      q.processAllAvailable()
      val out = spark.table("stream_fill_xbatch").collect()
        .map(r => r.getLong(1) ->
          (if (r.isNullAt(3)) null else r.getDouble(3))).toMap
      assert(out(2L) == 10.5, "same-batch fill")
      assert(out(4L) == 10.5, "cross-batch fill lost the carried state")
      assert(out(3L) == null && out(5L) == null,
        "never-observed key must stay null across batches")
    } finally q.stop()
  }

  test("update-mode windowed counts: a late event increments the emitted window; beyond-watermark drops") {
    // the built-in half of the late-data story (forwardFillUpdate is
    // the custom-state half): under OutputMode.Update a watermarked
    // windowed aggregate RE-EMITS a window when an admissible late
    // event lands in it, and silently drops events the watermark has
    // passed — no custom code, exactly the Catalyst-owned behavior a
    // pipeline leans on at scale.
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val srcDir = Files.createTempDirectory("updwin-src").toString
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    def stage(rows: Seq[(java.sql.Timestamp, String)], tag: String): Unit = {
      val tmp = Files.createTempDirectory("updwin-half").toString
      rows.toDF("ts", "event_type")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(srcDir, s"$tag.parquet"))
    }
    val h = 3600L // window-aligned epoch hours
    // b1: two events inside hour 10 — the window emits with count 2
    stage(Seq((ts(10 * h + 300), "click"), (ts(10 * h + 1200), "click")), "b1")
    val schema = Seq((ts(0), "x")).toDF("ts", "event_type").schema
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val counts = EventWindows.streamingHourlyCounts(in)
    val q = counts.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("upd_win").start()
    def emissions(): Seq[(Long, Long)] = spark.table("upd_win").collect()
      .toSeq.map(r => (r.getTimestamp(0).getTime / 1000, r.getLong(2)))
    try {
      q.processAllAvailable()
      val s1 = emissions()
      assert(s1 == Seq((10 * h, 2L)), s"initial emission wrong: $s1")
      // b2: a LATE click at 10h+700 — out of order (before b1's max
      // event time 10h+1200) but above the watermark (10h+1200 − 10 min
      // = 10h+600), so it is admitted and must RE-EMIT hour 10 with
      // count 3; a fresh hour-12 event drags the watermark far past
      // hour 10's close for the next phase
      stage(Seq((ts(10 * h + 700), "click"), (ts(12 * h + 60), "click")), "b2")
      q.processAllAvailable()
      val d2 = emissions().diff(s1)
      assert(d2.toSet == Set((10 * h, 3L), (12 * h, 1L)),
        s"late event must re-emit its window incremented: $d2")
      // b3: an event in hour 10 arrives after the watermark (12:01 −
      // 10 min) passed the window — dropped, no emission, count stays 3
      val s2 = emissions()
      stage(Seq((ts(10 * h + 1800), "click")), "b3")
      q.processAllAvailable()
      val d3 = emissions().diff(s2)
      assert(d3.isEmpty, s"beyond-watermark event must drop, got $d3")
    } finally q.stop()
  }

  test("update-mode forward fill: a late observation REWRITES the emitted fill; settled rows are immune") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val srcDir = Files.createTempDirectory("fillupd-src").toString
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    def stage(rows: Seq[(Long, java.sql.Timestamp, Long, Option[Double])],
        tag: String): Unit = {
      val tmp = Files.createTempDirectory("fillupd-half").toString
      rows.toDF("userId", "ts", "eventId", "v")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(srcDir, s"$tag.parquet"))
    }
    // b1: an observation then a hole — the hole fills 10.0 provisionally
    stage(Seq((1L, ts(1000), 1L, Option(10.0)),
      (1L, ts(1020), 2L, Option.empty[Double])), "b1")
    val schema = Seq((1L, ts(0), 1L, Option(1.0)))
      .toDF("userId", "ts", "eventId", "v").schema
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .withWatermark("ts", "10 seconds")
      .as[graft.stream.Stateful.FillUpdIn]
    val filled = graft.stream.Stateful.forwardFillUpdate(
      in.groupByKey(_.userId))
    val q = filled.toDF("user_id", "event_id", "was_missing", "filled")
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("stream_fill_upd").start()
    def emissions(): Seq[(Long, Any)] = spark.table("stream_fill_upd")
      .collect().toSeq
      .map(r => r.getLong(1) -> (if (r.isNullAt(3)) null else r.getDouble(3)))
    try {
      q.processAllAvailable()
      val s1 = emissions()
      assert(s1.toMap == Map(1L -> 10.0, 2L -> 10.0),
        s"provisional fills wrong: $s1")
      // b2: a LATE observation (t=1015 < e2's 1020, but above the
      // watermark 1020-10=1010) lands between e1 and the hole: the
      // already-emitted fill for e2 must be REWRITTEN to 99.0
      stage(Seq((1L, ts(1015), 3L, Option(99.0))), "b2")
      q.processAllAvailable()
      val d2 = emissions().diff(s1)
      assert(d2.toSet == Set(3L -> 99.0, 2L -> 99.0),
        s"late row must emit itself AND rewrite the hole after it: $d2")
      // b3: a much later hole fills from the late observation; its event
      // time (1100) also advances the watermark to 1090, settling e1-e3
      stage(Seq((1L, ts(1100), 4L, Option.empty[Double])), "b3")
      q.processAllAvailable()
      val s3 = emissions()
      assert(s3.diff(s1 ++ d2).toSet == Set(4L -> 99.0))
      // b4: a row BELOW the watermark (1080 < 1090) is dropped by the
      // standard pre-operator late filter: no emission, no rewrite of
      // the settled past, and e4's fill stays put
      stage(Seq((1L, ts(1080), 6L, Option(55.0))), "b4")
      q.processAllAvailable()
      val s4 = emissions()
      assert(s4.diff(s3).isEmpty,
        s"beyond-watermark row must be dropped, got ${s4.diff(s3)}")
      // final state parity with the batch LOCF over the ADMITTED rows:
      // last emission per event == last_value(v) IGNORE NULLS ordered
      // by event time
      val admitted = Seq((1L, 1000L, 1L, Option(10.0)),
        (1L, 1015L, 3L, Option(99.0)), (1L, 1020L, 2L, Option.empty[Double]),
        (1L, 1100L, 4L, Option.empty[Double]))
      val batch = admitted.sortBy(_._2).foldLeft(
        (Option.empty[Double], Map.empty[Long, Any])) {
        case ((last, acc), (_, _, eid, v)) =>
          val l = v.orElse(last)
          (l, acc + (eid -> l.map(x => x: Any).getOrElse(null)))
      }._2
      val finalPerEvent = s4.foldLeft(Map.empty[Long, Any])(_ + _)
      assert(finalPerEvent == batch,
        s"final stream state $finalPerEvent != batch LOCF $batch")
    } finally q.stop()
  }

  test("streaming SCD2 emits exactly the batch q67's closed versions; later batch closes an open one") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    // phase 1: full fixture in-order — closed versions must equal the
    // batch operator's non-current rows
    val in = streamingEvents()
      .selectExpr("user_id AS userId", "unix_micros(ts) AS tsMicros",
        "event_id AS eventId", "event_type AS eventType")
      .as[graft.stream.Stateful.ScdIn]
    val closed = graft.stream.Stateful.scd2(in.groupByKey(_.userId))
    val q = closed.toDF("user_id", "event_id", "event_type", "f", "t")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("stream_scd2").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_scd2").collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getString(2), r.getLong(3), r.getLong(4))).toMap
      val batch = ops.Relational6.q67Scd2(spark, sf)
        .filter(!col("is_current"))
        .selectExpr("user_id", "event_id", "event_type",
          "unix_micros(valid_from) AS f", "unix_micros(valid_to) AS t")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getString(2), r.getLong(3), r.getLong(4))).toMap
      assert(streamed.size == batch.size)
      assert(streamed === batch)
    } finally q.stop()

    // phase 2: a staged two-batch stream — the change in batch 2 must
    // close the version opened in batch 1 with the right interval
    val srcDir = Files.createTempDirectory("scd-src").toString
    def stage(rows: Seq[(Long, Long, Long, String)], tag: String): Unit = {
      val tmp = Files.createTempDirectory("scd-half").toString
      rows.toDF("userId", "tsMicros", "eventId", "eventType")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(srcDir, s"$tag.parquet"))
    }
    stage(Seq((1L, 100L, 1L, "view"), (1L, 200L, 2L, "view")), "b1")
    val schema = Seq((1L, 1L, 1L, "x"))
      .toDF("userId", "tsMicros", "eventId", "eventType").schema
    val in2 = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .as[graft.stream.Stateful.ScdIn]
    val closed2 = graft.stream.Stateful.scd2(in2.groupByKey(_.userId))
    val q2 = closed2.toDF("user_id", "event_id", "event_type", "f", "t")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("stream_scd2_xbatch").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("stream_scd2_xbatch").count() == 0,
        "no change yet — nothing may close")
      stage(Seq((1L, 300L, 3L, "click")), "b2")
      q2.processAllAvailable()
      val rows = spark.table("stream_scd2_xbatch").collect()
      assert(rows.length == 1)
      val r = rows.head
      assert(r.getLong(1) == 1L && r.getString(2) == "view" &&
        r.getLong(3) == 100L && r.getLong(4) == 300L,
        s"wrong closed version: $r")
    } finally q2.stop()
  }

  test("streaming ingest gate: p13's quality/exact dispositions, digest state survives batches") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    // text that passes the quality gate: all [a-z ], > 100 words
    val good = Array.tabulate(4)(i =>
      (s"alpha$i bravo charlie delta echo " * 25).trim)
    val junk = "@#$% ^&*! " * 30 // junk_ratio ~1 → quality ~0
    val standing = Seq(good(0)) // doc text already in the standing corpus
    val srcDir = Files.createTempDirectory("ingest-src").toString
    def stage(rows: Seq[(Long, String)], tag: String): Unit = {
      val tmp = Files.createTempDirectory("ingest-half").toString
      rows.map { case (id, t) => (id, t, t.length.toLong) }
        .toDF("doc_id", "text", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(srcDir, s"$tag.parquet"))
    }
    // b1: an index dup, a junk doc, and two fresh docs with EQUAL text
    stage(Seq((1L, standing.head), (2L, junk),
      (3L, good(1)), (4L, good(1))), "b1")
    val schema = Seq((1L, "x", 1L)).toDF("doc_id", "text", "n_chars").schema
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val standingDigests = standing.toDF("text")
      .select(org.apache.spark.sql.functions.md5(col("text")).as("h"))
    val out = graft.stream.Ingest.streamingIngest(in, standingDigests)
    val q = out.toDF("doc_id", "disposition")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ingest_gate").start()
    def dispo(): Map[Long, String] = spark.table("ingest_gate").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    try {
      q.processAllAvailable()
      assert(dispo() == Map(1L -> "dup_exact_index",
        2L -> "rejected_quality", 3L -> "accepted", 4L -> "dup_exact_batch"),
        s"b1 dispositions: ${dispo()}")
      // b2: a replay of doc 3's text arrives a batch later — the digest
      // state must remember the batch-1 keeper; a fresh doc accepts;
      // junk never takes a digest, so good(2)'s digest is free even
      // though a junk doc "saw" nothing
      stage(Seq((5L, good(1)), (6L, good(2))), "b2")
      q.processAllAvailable()
      assert(dispo()(5L) == "dup_exact_batch",
        "cross-batch digest state lost")
      assert(dispo()(6L) == "accepted")
      // and the keeper rule matches the batch operator on this in-order
      // source: the smallest doc_id of each accepted digest group won
      assert(dispo()(3L) == "accepted" && dispo()(4L) == "dup_exact_batch")
    } finally q.stop()
  }

  test("streaming dedup keeps each event_id once") {
    val doubled = streamingEvents().union(streamingEvents())
    val q = EventWindows.streamingDedup(doubled)
      .writeStream.outputMode("append")
      .format("memory").queryName("deduped").start()
    try {
      q.processAllAvailable()
      val n = spark.table("deduped").count()
      val ids = spark.table("deduped").select("event_id").distinct().count()
      assert(n === ids)
      assert(n === Tables(spark, sf, "events").count())
    } finally q.stop()
  }

  test("streaming throttle keeps one event per user/type/hour bucket") {
    val q = EventWindows.streamingThrottle(streamingEvents())
      .writeStream.outputMode("append")
      .format("memory").queryName("throttled").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("throttled")
        .select("user_id", "event_type", "hour_start").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2)))
      // exactly one survivor per bucket…
      assert(streamed.length === streamed.toSet.size)
      // …and the surviving bucket set is the batch throttle's (which
      // event survives per bucket is arrival order in the streaming
      // form — the batch st06 pins it to earliest event time instead)
      val batch = EventWindows.st06EventThrottle(spark, sf)
        .select("user_id", "event_type", "hour_start").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2)))
      assert(streamed.toSet === batch.toSet)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("stream-stream join: click attribution equals the batch join") {
    val q = EventWindows.streamingClickAttribution(streamingEvents())
      .writeStream.outputMode("append")
      .format("memory").queryName("attribution").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("attribution")
        .select("buy_id", "click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // the oracle-checked batch form (st05) shares the side projections
      // and join predicate with the streaming query by construction
      val batch = EventWindows.st05ClickAttribution(spark, sf)
        .select("buy_id", "click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("stream-stream join: out-of-order batches match the batch join; beyond-watermark state is evicted") {
    // the subtle part of a watermarked stream-stream interval join is
    // STATE EVICTION: click state must be dropped once the watermark
    // passes its join window, and a too-late purchase must not match —
    // even though the batch predicate would pair them. Staged here as
    // three explicit micro-batches over a MemoryStream.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    def ts(min: Int) = new java.sql.Timestamp(86400000L + min * 60000L)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Long, Long, String, java.sql.Timestamp)]
    val events = src.toDS()
      .toDF("event_id", "user_id", "event_type", "ts")
    val q = EventWindows.streamingClickAttribution(events)
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_xbatch").start()
    def stateRows(): Long =
      Option(q.lastProgress).toSeq.flatMap(_.stateOperators.map(_.numRowsTotal))
        .sum
    val staged = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, String, java.sql.Timestamp)]
    def stage(rows: (Long, Long, String, java.sql.Timestamp)*): Unit = {
      staged ++= rows; src.addData(rows); q.processAllAvailable()
    }
    try {
      // batch 1: user 1 click→purchase in order; user 2's click parked
      stage((1L, 1L, "click", ts(0)), (2L, 1L, "purchase", ts(30)),
        (3L, 2L, "click", ts(5)))
      val stateAfterB1 = stateRows()
      // batch 2: user 2's purchase arrives OUT OF ORDER (event time
      // before the max already seen) but inside the watermark — it must
      // still join against the parked click state. The far-future click
      // AND purchase advance the watermark ~3 hours: the global
      // watermark is the MIN across both sides' event-time columns
      // (default multipleWatermarkPolicy), so BOTH sides must see the
      // future or eviction never triggers
      stage((4L, 2L, "purchase", ts(20)), (5L, 99L, "click", ts(240)),
        (7L, 98L, "purchase", ts(241)))
      // batch 3: a purchase 2+ hours BELOW the watermark — its click's
      // state is evicted and the row itself is late; nothing may emit
      stage((6L, 1L, "purchase", ts(40)))
      val streamed = spark.table("attr_xbatch")
        .select("buy_id", "click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // parity: the BATCH join over the full staged frame, minus pairs
      // whose purchase arrived beyond the watermark, is exactly the
      // streamed set — and the beyond-watermark pair is the only delta
      val batch = EventWindows.clickAttributionBatch(
        staged.toSeq.toDF("event_id", "user_id", "event_type", "ts"))
        .select("buy_id", "click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batch == Set((2L, 1L), (4L, 3L), (6L, 1L)))
      assert(streamed == batch - ((6L, 1L)),
        s"streamed $streamed must drop exactly the beyond-watermark pair")
      // and the state store actually shrank when the watermark jumped:
      // batch 1 parks all 3 of its rows (inner-join state holds both
      // sides until the watermark passes their windows); after the jump
      // only the 2 rows still inside the live window survive — 6 rows
      // reached the join in total, so anything >2 means state accretes
      // forever and the join dies at 100 TB stream lengths
      assert(stateAfterB1 == 3L, s"batch 1 should park 3 rows, got $stateAfterB1")
      assert(stateRows() == 2L,
        s"only the live-window rows may remain in state, got ${stateRows()}")
    } finally q.stop()
  }

  test("outer stream-stream join: inner rows match batch, outer rows are held back correctly") {
    val q = EventWindows.streamingUnattributedBuys(streamingEvents())
      .writeStream.outputMode("append")
      .format("memory").queryName("unattributed").start()
    try {
      q.processAllAvailable()
      def split(rows: Array[org.apache.spark.sql.Row]) = {
        val (outer, inner) = rows.map(r =>
          (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
          .partition(_._2.isEmpty)
        (inner.toSet, outer.map(_._1).toSet)
      }
      val (sInner, sOuter) = split(
        spark.table("unattributed").select("buy_id", "click_id").collect())
      val (bInner, bOuter) = split(
        EventWindows.st07UnattributedBuys(spark, sf)
          .select("buy_id", "click_id").collect())
      // matched rows don't wait for the watermark — exact equality
      assert(sInner === bInner)
      assert(sInner.nonEmpty)
      // null-extended rows emit only once the watermark passes the
      // purchase's join window; a bounded replay ends with the tail of
      // the stream still inside the watermark, so the streamed outer
      // set is a SUBSET of the batch outer set — never a superset, and
      // never overlapping the batch inner buy set
      assert(sOuter.subsetOf(bOuter))
      assert(sOuter.intersect(bInner.map(_._1)).isEmpty)
    } finally q.stop()
  }

  test("checkpointed file-sink restart is exactly-once across new data") {
    // the recovery contract a long-running 100 TB ingestion relies on:
    // source offsets live in the checkpoint, committed output files in
    // the sink manifest — stop the query, add data, restart from the
    // same checkpoint, and the union of emitted rows equals the input
    // exactly (batch 1 is neither reprocessed nor lost)
    import java.nio.file.{Files, Paths}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val srcDir = Files.createTempDirectory("ev-src").toString
    val outDir = Files.createTempDirectory("ev-out").toString
    val ckpt = Files.createTempDirectory("ev-ckpt").toString
    def stage(half: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val tmp = Files.createTempDirectory("ev-half").toString
      half.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(srcDir, s"$tag.parquet"))
    }
    stage(raw.filter(col("event_id") % 2 === 0), "batch1")
    def start() = spark.readStream.schema(raw.schema).parquet(srcDir)
      .select("event_id", "user_id")
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .start()
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    val afterFirst = spark.read.parquet(outDir).count()
    stage(raw.filter(col("event_id") % 2 === 1), "batch2")
    val q2 = start()
    try { q2.processAllAvailable() } finally q2.stop()
    val ids = spark.read.parquet(outDir).select("event_id").collect()
      .map(_.getLong(0))
    val all = raw.select("event_id").collect().map(_.getLong(0))
    assert(afterFirst > 0 && afterFirst < all.length)
    assert(ids.length === ids.distinct.length, "restart duplicated rows")
    assert(ids.toSet === all.toSet, "restart lost rows")
  }

  test("streaming per-window top-k via foreachBatch matches st09") {
    // rank() is disallowed directly on a streaming aggregate; the
    // streaming form runs the windowed counts incrementally and ranks
    // inside foreachBatch — st09's scaladoc contract, pinned here
    import org.apache.spark.sql.expressions.Window
    val counts = EventWindows.streamingHourlyCounts(streamingEvents())
    @volatile var last: Array[(java.sql.Timestamp, String, Long, Long)] =
      Array.empty
    val q = counts.writeStream.outputMode("complete")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val w = Window.partitionBy(col("hour_start"))
          .orderBy(col("n").desc, col("event_type"))
        last = df
          .withColumn("rk", row_number().over(w).cast(LongType))
          .filter(col("rk") <= 2)
          .select("hour_start", "event_type", "n", "rk")
          .collect()
          .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
            r.getLong(3)))
      }
      .start()
    try {
      q.processAllAvailable()
      val batch = EventWindows.st09TopEventsHourly(spark, sf)
        .select("hour_start", "event_type", "n", "rk").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
          r.getLong(3)))
      assert(last.toSet === batch.toSet)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("streaming session windows MERGE across micro-batches; final state equals batch") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val srcDir = Files.createTempDirectory("sess-src").toString
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    def stage(rows: Seq[(Long, java.sql.Timestamp, Double)],
        tag: String): Unit = {
      val tmp = Files.createTempDirectory("sess-half").toString
      rows.toDF("user_id", "ts", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(srcDir, s"$tag.parquet"))
    }
    // b1: two events 10 min apart — one open session [1000, 1600+1800)
    stage(Seq((1L, ts(1000), 2.0), (1L, ts(1600), 3.0)), "b1")
    val schema = Seq((1L, ts(0), 1.0)).toDF("user_id", "ts", "value")
      .schema
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val sessions = EventWindows.streamingSessionWindows(in)
    // session aggregations reject update mode (state merges can span
    // keys); complete mode's per-trigger snapshot makes the merge just
    // as observable: the partial session must VANISH from the snapshot
    val q = sessions.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("stream_sessions").start()
    def emissions(): Seq[(Long, Long, Long, Long, Double)] =
      spark.table("stream_sessions").collect().toSeq
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000,
          r.getTimestamp(2).getTime / 1000, r.getLong(3),
          r.getDouble(4)))
    try {
      q.processAllAvailable()
      val s1 = emissions()
      assert(s1.toSet == Set((1L, 1000L, 3400L, 2L, 5.0)),
        s"b1 session: $s1")
      // b2: an event 15 min after the session's last — inside the
      // 30-min gap, so the OPEN session must MERGE, not start anew:
      // the new snapshot holds ONLY the spanning session, the b1
      // partial is gone
      stage(Seq((1L, ts(2500), 7.0)), "b2")
      q.processAllAvailable()
      val s2 = emissions()
      assert(s2.toSet == Set((1L, 1000L, 4300L, 3L, 12.0)),
        s"merged session snapshot: $s2")
      // final state parity with the batch session_window aggregation
      val batch = Seq((1L, ts(1000), 2.0), (1L, ts(1600), 3.0),
          (1L, ts(2500), 7.0))
        .toDF("user_id", "ts", "value")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
        .select(col("user_id"), col("session_window.start"),
          col("session_window.end"), col("n"), col("v"))
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000,
          r.getTimestamp(2).getTime / 1000, r.getLong(3),
          r.getDouble(4))).toSet
      // the complete-mode snapshot IS the live session state
      assert(emissions().toSet == batch,
        s"live ${emissions().toSet} != batch $batch")
    } finally q.stop()
  }

  test("stateful top-k: an overtake retracts the displaced type; deltas rebuild the leaderboard") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val srcDir = Files.createTempDirectory("topk-src").toString
    def stage(rows: Seq[(Long, String)], tag: String): Unit = {
      val tmp = Files.createTempDirectory("topk-half").toString
      rows.toDF("windowMicros", "eventType")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(srcDir, s"$tag.parquet"))
    }
    // b1: A=3 B=2 C=1 → top-2 is A(3,1), B(2,2)
    stage(Seq((0L, "A"), (0L, "A"), (0L, "A"), (0L, "B"), (0L, "B"),
      (0L, "C")), "b1")
    val schema = Seq((0L, "x")).toDF("windowMicros", "eventType").schema
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .as[graft.stream.Stateful.TopKIn]
    val deltas = graft.stream.Stateful.topKUpdate(2)(
      in.groupByKey(_.windowMicros))
    val q = deltas.toDF("window_micros", "event_type", "n", "rk", "op")
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("stream_topk").start()
    def emissions(): Seq[(String, Long, Long, String)] =
      spark.table("stream_topk").collect().toSeq
        .map(r => (r.getString(1), r.getLong(2), r.getLong(3),
          r.getString(4)))
    try {
      q.processAllAvailable()
      val s1 = emissions()
      assert(s1.toSet == Set(("A", 3L, 1L, "upsert"),
        ("B", 2L, 2L, "upsert")), s"b1 deltas: $s1")
      // b2: three more C → C=4 overtakes everyone; B leaves the top-2
      // and MUST be retracted, A re-ranks 1→2, C upserts at rank 1
      stage(Seq((0L, "C"), (0L, "C"), (0L, "C")), "b2")
      q.processAllAvailable()
      val d2 = emissions().diff(s1)
      assert(d2.toSet == Set(("B", 0L, 0L, "retract"),
        ("C", 4L, 1L, "upsert"), ("A", 3L, 2L, "upsert")),
        s"overtake deltas: $d2")
      // the delta stream rebuilds the true leaderboard
      val board = emissions().foldLeft(Map.empty[String, (Long, Long)]) {
        case (acc, (t, _, _, "retract")) => acc - t
        case (acc, (t, n, rk, _)) => acc + (t -> (n, rk))
      }
      assert(board == Map("C" -> (4L, 1L), "A" -> (3L, 2L)))
    } finally q.stop()
  }

  test("stateful top-k deltas reconstruct st09 over the fixture in two batches") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val hourMicros = 3600L * 1000000
    val evRows = Tables(spark, sf, "events")
      .select(expr(s"(unix_micros(ts) div $hourMicros) * $hourMicros")
        .as("windowMicros"), col("event_type").as("eventType"),
        col("event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val (h1, h2) = evRows.sortBy(_._3).splitAt(evRows.length / 2)
    val srcDir = Files.createTempDirectory("topk9-src").toString
    def stage(rows: Seq[(Long, String)], tag: String): Unit = {
      val tmp = Files.createTempDirectory("topk9-half").toString
      rows.toDF("windowMicros", "eventType")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(srcDir, s"$tag.parquet"))
    }
    stage(h1.map(t => (t._1, t._2)).toSeq, "b1")
    stage(h2.map(t => (t._1, t._2)).toSeq, "b2")
    val schema = Seq((0L, "x")).toDF("windowMicros", "eventType").schema
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .as[graft.stream.Stateful.TopKIn]
    val deltas = graft.stream.Stateful.topKUpdate(2)(
      in.groupByKey(_.windowMicros))
    val q = deltas.toDF("window_micros", "event_type", "n", "rk", "op")
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("stream_topk9").start()
    try {
      q.processAllAvailable()
      // rebuild each window's final board from its delta stream
      val board = spark.table("stream_topk9").collect().toSeq
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getString(4)))
        .foldLeft(Map.empty[(Long, String), (Long, Long)]) {
          case (acc, (w, t, _, _, "retract")) => acc - ((w, t))
          case (acc, (w, t, n, rk, _)) => acc + ((w, t) -> (n, rk))
        }
        .map { case ((w, t), (n, rk)) => (w, t, n, rk) }.toSet
      val batch = EventWindows.st09TopEventsHourly(spark, sf).collect()
        .map(r => (r.getAs[java.sql.Timestamp]("hour_start").getTime * 1000L,
          r.getAs[String]("event_type"), r.getAs[Long]("n"),
          r.getAs[Long]("rk"))).toSet
      assert(board == batch,
        s"extra=${(board -- batch).take(3)} missing=${(batch -- board).take(3)}")
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("streaming LSH near-dup candidates equal the batch operator's") {
    import spark.implicits._
    // stage the documents fixture as TWO files and deliver them as two
    // micro-batches (maxFilesPerTrigger=1): bucket state must carry
    // across batches for cross-batch near-dup pairs to surface
    val dir = java.nio.file.Files.createTempDirectory("docs-stream")
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    def stage(half: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("docs-half")
      half.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, dir.resolve(name))
    }
    stage(docs.filter(col("doc_id") % 2 === 0), "part-0.parquet")
    stage(docs.filter(col("doc_id") % 2 === 1), "part-1.parquet")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val banded = graft.llm.Dedup.bandedDocs(stream)
      .select(col("doc_id"), col("band").cast(IntegerType), col("bucket"))
      .as[(Long, Int, Long)]
    val pairs = graft.stream.StreamDedup.lshCandidatePairs(
      banded.groupByKey(r => (r._2, r._3)))
    val q = pairs.toDF("doc_a", "doc_b")
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_lsh").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_lsh").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = graft.llm.Dedup
        .lshCandidates(graft.llm.Dedup.shingledFrame(docs), 64).collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      // fixture buckets stay under the cap, so the incremental clique
      // equals the batch clique exactly (pairs, not just clusters)
      assert(streamed === batch)
      assert(batch.nonEmpty) // the corpus plants near-dups: not vacuous
    } finally q.stop()
  }

  test("streaming LSH: replayed stored docs emit no duplicate pairs") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val text = (1 to 40).map(i => s"r${('a' + i % 26).toChar}y").mkString(" ")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Long, String)]
    val banded = graft.llm.Dedup.bandedDocs(
        src.toDF().toDF("doc_id", "text"))
      .select(col("doc_id"), col("band").cast(IntegerType), col("bucket"))
      .as[(Long, Int, Long)]
    val pairs = graft.stream.StreamDedup.lshCandidatePairs(
      banded.groupByKey(r => (r._2, r._3)))
    val q = pairs.toDF("doc_a", "doc_b")
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_lsh_replay").start()
    try {
      src.addData((1L, text), (2L, text)); q.processAllAvailable()
      src.addData((1L, text)); q.processAllAvailable() // replay doc 1
      src.addData((2L, text)); q.processAllAvailable() // replay doc 2
      val rows = spark.table("stream_lsh_replay").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      // under the cap both docs are stored, so replays are no-ops:
      // exactly one (1,2) per band, nothing from the replay batches
      assert(rows.toSet == Set((1L, 2L)))
      assert(rows.length == 16, s"per-band emission count: ${rows.length}")
    } finally q.stop()
  }

  test("streaming LSH hot-bucket cap: star emission, connectivity kept") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // 8 byte-identical docs => identical shingles => one shared bucket
    // per band; cap 4 => per band: C(4,2) cliques then stars only
    val text = (1 to 40).map(i => s"m${('a' + i % 26).toChar}x").mkString(" ")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Long, String)]
    val banded = graft.llm.Dedup.bandedDocs(
        src.toDF().toDF("doc_id", "text"))
      .select(col("doc_id"), col("band").cast(IntegerType), col("bucket"))
      .as[(Long, Int, Long)]
    val pairs = graft.stream.StreamDedup.lshCandidatePairs(
      banded.groupByKey(r => (r._2, r._3)), hotBucketCap = 4)
    val q = pairs.toDF("doc_a", "doc_b")
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_lsh_cap").start()
    try {
      // one doc per micro-batch: arrival order is then deterministic
      // for every band's bucket (within one batch, iterator order per
      // group is an implementation detail — across batches it is not)
      (1L to 8L).foreach { i =>
        src.addData((i, text)); q.processAllAvailable()
      }
      val got = spark.table("stream_lsh_cap").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // docs 1-4 fill the bucket (clique), 5-8 arrive at-cap and star
      // around the stored min (1); identical in all 16 bands
      val expected = (for {
        a <- 1L to 4L; b <- (a + 1) to 4L
      } yield (a, b)).toSet ++ (5L to 8L).map(i => (1L, i))
      assert(got == expected, s"got $got")
    } finally q.stop()
  }

  test("streaming funnel advances equal the batch q71 stages on an in-order source") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val in = streamingEvents()
      .selectExpr("user_id AS userId", "unix_micros(ts) AS tsMicros",
        "event_id AS eventId", "event_type AS eventType")
      .as[graft.stream.Stateful.FunnelIn]
    val adv = graft.stream.Stateful.funnel(in.groupByKey(_.userId))
    val q = adv.toDF("user_id", "stage", "ts_micros", "event_id")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("stream_funnel").start()
    try {
      q.processAllAvailable()
      // streamed: per user, stage -> accepted ts
      val streamed = spark.table("stream_funnel").collect()
        .groupBy(_.getLong(0)).view.mapValues(
          _.map(r => r.getString(1) -> r.getLong(2)).toMap).toMap
      val batch = ops.Relational7.q71Funnel(spark, sf)
        .selectExpr("user_id", "stage", "unix_micros(t_view) AS v",
          "unix_micros(t_click) AS c", "unix_micros(t_purchase) AS p")
        .collect().map { r =>
          def ts(i: Int): Option[Long] =
            if (r.isNullAt(i)) None else Some(r.getLong(i))
          r.getLong(0) -> (r.getString(1), ts(2), ts(3), ts(4))
        }.toMap
      batch.foreach { case (user, (stage, tView, tClick, tPurchase)) =>
        val got = streamed.getOrElse(user, Map.empty[String, Long])
        // every batch stage timestamp must have emitted exactly once
        assert(got.get("view") == tView, s"user $user view")
        assert(got.get("click") == tClick, s"user $user click")
        assert(got.get("purchase") == tPurchase, s"user $user purchase")
        // the furthest emitted stage is the batch stage
        val furthest =
          if (got.contains("purchase")) "purchase"
          else if (got.contains("click")) "click"
          else if (got.contains("view")) "view" else "none"
        assert(furthest == stage, s"user $user: $furthest != $stage")
      }
      assert(streamed.keySet.subsetOf(batch.keySet))
    } finally q.stop()
  }

  test("streaming funnel: cross-batch conversion, window and order rejections") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val srcDir = Files.createTempDirectory("funnel-src").toString
    def stage(rows: Seq[(Long, Long, Long, String)], tag: String): Unit = {
      val tmp = Files.createTempDirectory("funnel-half").toString
      rows.toDF("userId", "tsMicros", "eventId", "eventType")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(srcDir, s"$tag.parquet"))
    }
    val W = graft.stream.Stateful.FunnelWindowMicros
    // batch 1: user 1 views; user 2 clicks with NO prior view (must be
    // rejected — out of sequence); user 3 views
    stage(Seq((1L, 1000L, 1L, "view"), (2L, 1000L, 2L, "click"),
      (3L, 1000L, 3L, "view")), "b1")
    val schema = Seq((1L, 1L, 1L, "view"))
      .toDF("userId", "tsMicros", "eventId", "eventType").schema
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .as[graft.stream.Stateful.FunnelIn]
    val adv = graft.stream.Stateful.funnel(in.groupByKey(_.userId))
    val q = adv.toDF("user_id", "stage", "ts_micros", "event_id")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("stream_funnel_xbatch").start()
    try {
      q.processAllAvailable()
      // batch 2: user 1 clicks INSIDE the window (cross-batch state
      // must convert); user 3 clicks OUTSIDE the window (reject)
      stage(Seq((1L, 2000L, 4L, "click"),
        (3L, 1000L + W + 1L, 5L, "click")), "b2")
      q.processAllAvailable()
      val got = spark.table("stream_funnel_xbatch").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == Set((1L, "view"), (3L, "view"), (1L, "click")),
        s"got $got")
    } finally q.stop()
  }

  test("streaming index ingest: micro-batches append to the artifact exactly once") {
    // the readStream twin of s16's nightly append: a vector feed drives
    // IndexIngest.appendSink over IndexFamily.Ivf, each micro-batch assigned to the
    // STORED centroids and appended under the artifact lock; the
    // batch-id high-water mark inside the artifact makes replays
    // no-ops, and the final stored assignment must equal a BATCH
    // assignment of all vectors to the ORIGINAL (bootstrap) centroids
    // — proof no retraining ever ran on the stream.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(42)
    def vec(): Seq[Float] = Seq.fill(8)(rnd.nextFloat() - 0.5f)
    val baseVecs = (0L until 40L).map(i => (i, vec()))
    val b1 = (100L until 110L).map(i => (i, vec()))
    val b2 = (200L until 210L).map(i => (i, vec()))
    val idx = java.nio.file.Files.createTempDirectory("graft-stream-ivf")
      .resolve("idx").toString
    graft.stream.IndexIngest.bootstrap(
      IndexFamily.Ivf, idx, baseVecs.toDF("vec_id", "embedding"))
    def storedCells(): Map[Long, Long] = spark.read
      .parquet(s"$idx/assignments")
      .select(col("vec_id"), col("cell").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(storedCells().size == 40)
    val src = MemoryStream[(Long, Seq[Float])]
    val q = src.toDS().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch(
        graft.stream.IndexIngest.appendSink(IndexFamily.Ivf, idx, DefaultApp) _)
      .start()
    try {
      src.addData(b1); q.processAllAvailable()
      assert(storedCells().size == 50, "batch 1 must be appended")
      src.addData(b2); q.processAllAvailable()
      assert(storedCells().size == 60, "batch 2 must be appended")
    } finally q.stop()
    // exactly-once: replaying an already-committed batch id (what a
    // restarted query does with its last uncommitted batch) is a no-op
    graft.stream.IndexIngest.appendSink(IndexFamily.Ivf, idx, DefaultApp)(
      b2.toDF("vec_id", "embedding"), 1L)
    assert(storedCells().size == 60, "replay must not double-ingest")
    // the artifact is still marker-valid after the appends
    assert(graft.io.ArtifactStore.currentFingerprint(idx).isDefined,
      "appends must leave a valid, manifest-covered artifact")
    // no-retrain proof: stored assignment == batch assignment of ALL
    // vectors against the bootstrap centroids
    val centroids = spark.read.parquet(s"$idx/centroids")
    val all = (baseVecs ++ b1 ++ b2).toDF("vec_id", "embedding")
      .withColumn("norm", sqrt(expr("vec_dot(embedding, embedding)")))
      .filter(col("norm") > 0)
    val want = graft.llm.Similarity.assignToCentroids(all, centroids)
      .select(col("vec_id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(storedCells() == want,
      "stored lists must equal assignment to the ORIGINAL centroids")
    // COMPACTION: the appends left multiple small files in touched cell
    // dirs (one per batch) — the periodic merge job rewrites each cell
    // to one sorted file, with the SAME fingerprint (rows identical,
    // layout-only change) and identical reader-visible content
    def partFiles(): Map[String, Int] = {
      val root = new java.io.File(s"$idx/assignments")
      root.listFiles().filter(_.isDirectory).map { d =>
        d.getName -> d.listFiles().count(_.getName.startsWith("part-"))
      }.toMap
    }
    assert(partFiles().values.exists(_ > 1),
      "appends should have left multi-file cells to make compaction real")
    val fpBefore = graft.io.ArtifactStore.currentFingerprint(idx)
    assert(graft.stream.IndexIngest.compact(IndexFamily.Ivf, spark, idx))
    assert(partFiles().values.forall(_ == 1),
      s"compaction must leave one file per cell, got ${partFiles()}")
    assert(graft.io.ArtifactStore.currentFingerprint(idx) == fpBefore,
      "compaction is layout-only: the content fingerprint must not move")
    assert(storedCells() == want, "compaction must not change the rows")
  }

  test("streaming PQ ingest: batch codes append against the frozen codebook exactly once") {
    // the FOURTH exactly-once index sink: micro-batches encode against
    // the STORED codebook (no retrain ever) and append cell-major code
    // rows; replays are no-ops, compaction is layout-only, and the
    // final stored code table must equal a batch encode of ALL vectors
    // against the BOOTSTRAP codebook with bootstrap-centroid cells
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(7)
    def vec(): Seq[Float] = Seq.fill(64)(rnd.nextFloat() - 0.5f)
    val baseVecs = (0L until 40L).map(i => (i, vec()))
    val b1 = (100L until 110L).map(i => (i, vec()))
    val b2 = (200L until 210L).map(i => (i, vec()))
    val root = java.nio.file.Files.createTempDirectory("graft-stream-pq")
    val ivfIdx = root.resolve("ivf").toString
    val pqIdx = root.resolve("pq").toString
    graft.stream.IndexIngest.bootstrap(
      IndexFamily.Ivf, ivfIdx, baseVecs.toDF("vec_id", "embedding"))
    graft.stream.IndexIngest.bootstrap(Pq.over(ivfIdx),
      pqIdx, baseVecs.toDF("vec_id", "embedding"))
    def storedCodes(): Map[Long, (Long, Seq[Int])] = spark.read
      .schema(graft.llm.Similarity.pqCodesSchema)
      .parquet(s"$pqIdx/codes")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getSeq[Int](1))).toMap
    assert(storedCodes().size == 40)
    val src = MemoryStream[(Long, Seq[Float])]
    val q = src.toDS().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch(
        graft.stream.IndexIngest.appendSink(Pq.over(ivfIdx), pqIdx) _)
      .start()
    try {
      src.addData(b1); q.processAllAvailable()
      assert(storedCodes().size == 50, "batch 1 codes must be appended")
      src.addData(b2); q.processAllAvailable()
      assert(storedCodes().size == 60, "batch 2 codes must be appended")
    } finally q.stop()
    // exactly-once: a replayed committed batch id is a wholesale no-op
    graft.stream.IndexIngest.appendSink(Pq.over(ivfIdx), pqIdx)(
      b2.toDF("vec_id", "embedding"), 1L)
    assert(storedCodes().size == 60, "replay must not double-ingest")
    assert(graft.io.ArtifactStore.currentFingerprint(pqIdx).isDefined)
    // no-retrain proof: stored table == batch encode of ALL vectors
    // against the BOOTSTRAP codebook, cells from bootstrap centroids
    val cb = spark.read.parquet(s"$pqIdx/codebook")
    val centroids = spark.read.parquet(s"$ivfIdx/centroids")
    val all = (baseVecs ++ b1 ++ b2).toDF("vec_id", "embedding")
      .withColumn("norm", sqrt(expr("vec_dot(embedding, embedding)")))
      .filter(col("norm") > 0)
    val sub = graft.llm.Similarity.pqSub(
      graft.llm.Similarity.pqNvFrame(all))
    val want = graft.llm.Similarity.pqEncode(sub, cb)
      .join(graft.llm.Similarity.assignToCentroids(all, centroids)
        .select(col("vec_id"), col("cell")), "vec_id")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getSeq[Int](1))).toMap
    assert(storedCodes() == want,
      "stored codes must equal frozen-codebook encoding of all vectors")
    // compaction: one file per touched cell, fingerprint + rows + the
    // (unstaged) codebook unchanged
    def partFiles(): Map[String, Int] = {
      val r = new java.io.File(s"$pqIdx/codes")
      r.listFiles().filter(_.isDirectory).map { d =>
        d.getName -> d.listFiles().count(_.getName.startsWith("part-"))
      }.toMap
    }
    assert(partFiles().values.exists(_ > 1),
      "appends should have left multi-file cells to make compaction real")
    val fpBefore = graft.io.ArtifactStore.currentFingerprint(pqIdx)
    assert(graft.stream.IndexIngest.compact(Pq.over(ivfIdx), spark, pqIdx))
    assert(partFiles().values.forall(_ == 1),
      s"compaction must leave one file per cell, got ${partFiles()}")
    assert(graft.io.ArtifactStore.currentFingerprint(pqIdx) == fpBefore,
      "compaction is layout-only: the content fingerprint must not move")
    assert(storedCodes() == want, "compaction must not change the rows")
    assert(spark.read.parquet(s"$pqIdx/codebook").count() == 128,
      "the unstaged codebook must survive compaction")
  }

  test("streaming SQ8 ingest: batch codes append against the frozen ranges exactly once") {
    // the SIXTH exactly-once index sink, and the cheapest append of the
    // triad: no codebook exists — micro-batches encode elementwise
    // against the STORED frozen (vmin, vdiff) ranges and append
    // cell-major; replays are no-ops, compaction is layout-only, and
    // the final stored table must equal an encode of ALL vectors
    // against the BOOTSTRAP params with bootstrap-centroid cells
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(13)
    def vec(): Seq[Float] = Seq.fill(64)(rnd.nextFloat() - 0.5f)
    val baseVecs = (0L until 40L).map(i => (i, vec()))
    val b1 = (100L until 110L).map(i => (i, vec()))
    val b2 = (200L until 210L).map(i => (i, vec()))
    val root = java.nio.file.Files.createTempDirectory("graft-stream-sq")
    val ivfIdx = root.resolve("ivf").toString
    val sqIdx = root.resolve("sq").toString
    graft.stream.IndexIngest.bootstrap(
      IndexFamily.Ivf, ivfIdx, baseVecs.toDF("vec_id", "embedding"))
    graft.stream.IndexIngest.bootstrap(Sq.over(ivfIdx),
      sqIdx, baseVecs.toDF("vec_id", "embedding"))
    def storedCodes(): Map[Long, (Long, Seq[Int])] = spark.read
      .schema(graft.llm.Similarity.sqCodesSchema)
      .parquet(s"$sqIdx/codes")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getSeq[Int](1))).toMap
    assert(storedCodes().size == 40)
    val src = MemoryStream[(Long, Seq[Float])]
    val q = src.toDS().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch(
        graft.stream.IndexIngest.appendSink(Sq.over(ivfIdx), sqIdx) _)
      .start()
    try {
      src.addData(b1); q.processAllAvailable()
      assert(storedCodes().size == 50, "batch 1 codes must be appended")
      src.addData(b2); q.processAllAvailable()
      assert(storedCodes().size == 60, "batch 2 codes must be appended")
    } finally q.stop()
    // exactly-once: a replayed committed batch id is a wholesale no-op
    graft.stream.IndexIngest.appendSink(Sq.over(ivfIdx), sqIdx)(
      b2.toDF("vec_id", "embedding"), 1L)
    assert(storedCodes().size == 60, "replay must not double-ingest")
    assert(graft.io.ArtifactStore.currentFingerprint(sqIdx).isDefined)
    // frozen-range proof: stored table == elementwise encode of ALL
    // vectors against the BOOTSTRAP params, cells from bootstrap
    // centroids — streamed vectors outside the bootstrap envelope are
    // expected to clamp, and the equality covers that too
    val params = spark.read.parquet(s"$sqIdx/params")
    val centroids = spark.read.parquet(s"$ivfIdx/centroids")
    val all = (baseVecs ++ b1 ++ b2).toDF("vec_id", "embedding")
      .withColumn("norm", sqrt(expr("vec_dot(embedding, embedding)")))
      .filter(col("norm") > 0)
    val nvc = graft.llm.Similarity.assignToCentroids(all, centroids)
      .withColumn("nv",
        expr("transform(embedding, x -> CAST(x AS DOUBLE) / norm)"))
      .select(col("vec_id"), col("cell"), col("nv"))
    val want = graft.llm.Similarity.sqEncode(nvc, params)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Int](2))).toMap
    assert(storedCodes() == want,
      "stored codes must equal frozen-range encoding of all vectors")
    // the clamp class is REAL in this fixture, not vacuous: at least
    // one appended vector must have hit the 0/255 envelope boundary
    // on some dimension (new random draws exceed a 40-vector min/max
    // envelope with near-certainty)
    val appended = (b1 ++ b2).map(_._1).toSet
    assert(want.exists { case (id, (_, cs)) =>
      appended(id) && cs.exists(c => c == 0 || c == 255) },
      "fixture regression: no appended vector clamped to the envelope")
    // compaction: one file per touched cell, fingerprint + rows + the
    // (unstaged) params unchanged
    def partFiles(): Map[String, Int] = {
      val r = new java.io.File(s"$sqIdx/codes")
      r.listFiles().filter(_.isDirectory).map { d =>
        d.getName -> d.listFiles().count(_.getName.startsWith("part-"))
      }.toMap
    }
    assert(partFiles().values.exists(_ > 1),
      "appends should have left multi-file cells to make compaction real")
    val fpBefore = graft.io.ArtifactStore.currentFingerprint(sqIdx)
    assert(graft.stream.IndexIngest.maybeCompact(Sq.over(ivfIdx), spark, sqIdx,
      maxFilesPerCell = 2))
    assert(partFiles().values.forall(_ == 1),
      s"compaction must leave one file per cell, got ${partFiles()}")
    assert(graft.io.ArtifactStore.currentFingerprint(sqIdx) == fpBefore,
      "compaction is layout-only: the content fingerprint must not move")
    assert(storedCodes() == want, "compaction must not change the rows")
    assert(spark.read.parquet(s"$sqIdx/params").count() == 1,
      "the unstaged 1-row params frame must survive compaction")
  }

  test("streaming BQ ingest and gate co-retrain: the train-free sink and the derived-member machinery") {
    // the SEVENTH exactly-once sink (sign bits — nothing trained, the
    // append IS the encode) plus the generalized derived-member gate:
    // a derived Bq base joins the heal and co-retrain as an Sq one does
    import spark.implicits._
    import graft.stream.IndexIngest
    val rnd = new scala.util.Random(17)
    def vec(): Seq[Float] = Seq.fill(64)(rnd.nextFloat() - 0.5f)
    val baseVecs = (0L until 40L).map(i => (i, vec()))
    val b1 = (100L until 120L).map(i => (i, vec()))
    val all = baseVecs ++ b1
    val root = java.nio.file.Files.createTempDirectory("graft-bq")
    val ivfIdx = root.resolve("ivf").toString
    val pqIdx = root.resolve("pq").toString
    val bqIdx = root.resolve("bq").toString
    IndexIngest.bootstrap(IndexFamily.Ivf, ivfIdx,
      baseVecs.toDF("vec_id", "embedding"))
    IndexIngest.bootstrap(Pq.over(ivfIdx), pqIdx, baseVecs.toDF("vec_id", "embedding"))
    IndexIngest.bootstrap(Bq.over(ivfIdx), bqIdx, baseVecs.toDF("vec_id", "embedding"))
    def bqRows(base: String) = spark.read
      .schema(graft.llm.Similarity.bqCodesSchema)
      .parquet(s"$base/codes").collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(1), r.getLong(2)))
      .toMap
    assert(bqRows(bqIdx).size == 40)
    // aligned appends through all three sinks
    IndexIngest.appendSink(IndexFamily.Ivf, ivfIdx, DefaultApp)(
      b1.toDF("vec_id", "embedding"), 0L)
    IndexIngest.appendSink(Pq.over(ivfIdx), pqIdx)(
      b1.toDF("vec_id", "embedding"), 0L)
    IndexIngest.appendSink(Bq.over(ivfIdx), bqIdx)(
      b1.toDF("vec_id", "embedding"), 0L)
    assert(bqRows(bqIdx).size == 60, "the batch's codes must be appended")
    // replay is a wholesale no-op
    IndexIngest.appendSink(Bq.over(ivfIdx), bqIdx)(
      b1.toDF("vec_id", "embedding"), 0L)
    assert(bqRows(bqIdx).size == 60, "replay must not double-ingest")
    // the gate co-retrains the BQ table through the derived machinery
    val (_, h, fired, retrained) = IndexIngest.recallGateAndRetrain(
      spark, ivfIdx, pqIdx, derived = Seq(Bq -> bqIdx))
    assert(fired && retrained,
      s"frozen-model appends should fire and retrain here (hits $h)")
    val cleanIvf = root.resolve("clean-ivf").toString
    val cleanBq = root.resolve("clean-bq").toString
    IndexIngest.bootstrap(IndexFamily.Ivf, cleanIvf, all.toDF("vec_id", "embedding"))
    IndexIngest.bootstrap(Bq.over(cleanIvf), cleanBq, all.toDF("vec_id", "embedding"))
    assert(bqRows(bqIdx) == bqRows(cleanBq),
      "retrained BQ codes must equal a from-scratch build on all vectors")
    // marks survived the retrain
    IndexIngest.appendSink(Bq.over(ivfIdx), bqIdx)(
      b1.toDF("vec_id", "embedding"), 0L)
    assert(bqRows(bqIdx) == bqRows(cleanBq),
      "replay after the co-retrain must not double-ingest")
    // self-heal: marker-less BQ rebuilds from the IVF sibling
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(bqIdx, "_FINGERPRINT"))
    IndexIngest.recallGateAndRetrain(spark, ivfIdx, pqIdx,
      derived = Seq(Bq -> bqIdx))
    assert(graft.io.ArtifactStore.currentFingerprint(bqIdx)
      == graft.io.ArtifactStore.currentFingerprint(ivfIdx),
      "the healed BQ artifact must carry the IVF artifact's fingerprint")
    assert(bqRows(bqIdx) == bqRows(cleanBq),
      "the healed BQ table must rebuild to the same rows")
    // compaction policy: layout-only, threshold-gated
    // (appends above left multi-file cells only pre-retrain; force one)
    IndexIngest.appendSink(Bq.over(ivfIdx), bqIdx)(
      (300L until 305L).map(i => (i, vec())).toDF("vec_id", "embedding"), 1L)
    val fpBefore = graft.io.ArtifactStore.currentFingerprint(bqIdx)
    assert(IndexIngest.maybeCompact(Bq.over(ivfIdx), spark, bqIdx,
      maxFilesPerCell = 2))
    assert(graft.io.ArtifactStore.currentFingerprint(bqIdx) == fpBefore,
      "compaction is layout-only: the content fingerprint must not move")
  }

  test("paired generation withBq: the binary member rides the machinery end-to-end") {
    import spark.implicits._
    import graft.stream.IndexIngest
    val rnd = new scala.util.Random(18)
    def vec(): Seq[Float] = Seq.fill(64)(rnd.nextFloat() - 0.5f)
    val baseVecs = (0L until 40L).map(i => (i, vec()))
    val b1 = (100L until 120L).map(i => (i, vec()))
    val pairBase = java.nio.file.Files.createTempDirectory("graft-pairbq")
      .resolve("trio").toString
    IndexIngest.bootstrapPair(pairBase, baseVecs.toDF("vec_id", "embedding"),
      derived = Seq(Sq, Bq))
    assert(IndexIngest.resolveMember(Sq, pairBase).isDefined
      && IndexIngest.resolveMember(Bq, pairBase).isDefined,
      "withSq + withBq must create BOTH derived members")
    for (sink <- Seq(IndexIngest.appendSinkPaired(IndexFamily.Ivf, pairBase) _,
        IndexIngest.appendSinkPaired(Pq, pairBase) _,
        IndexIngest.appendSinkPaired(Sq, pairBase) _,
        IndexIngest.appendSinkPaired(Bq, pairBase) _))
      sink(b1.toDF("vec_id", "embedding"), 0L)
    val (_, h, fired, retrained) =
      IndexIngest.recallGateAndRetrainPaired(spark, pairBase)
    assert(fired && retrained,
      s"aligned marks + fired SLO must swap the quad (hits $h)")
    assert(IndexIngest.currentGen(pairBase).contains("g1"))
    val g1Bq = IndexIngest.resolveMember(Bq, pairBase).get
    val root2 = java.nio.file.Files.createTempDirectory("graft-pairbq-clean")
    val cleanIvf = root2.resolve("ivf").toString
    val cleanBq = root2.resolve("bq").toString
    IndexIngest.bootstrap(IndexFamily.Ivf, cleanIvf,
      (baseVecs ++ b1).toDF("vec_id", "embedding"))
    IndexIngest.bootstrap(Bq.over(cleanIvf), cleanBq,
      (baseVecs ++ b1).toDF("vec_id", "embedding"))
    def bqRows(base: String) = spark.read
      .schema(graft.llm.Similarity.bqCodesSchema)
      .parquet(s"$base/codes").collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(1), r.getLong(2)))
      .toMap
    assert(bqRows(g1Bq) == bqRows(cleanBq),
      "the swapped-in BQ member must equal a from-scratch build")
    // replay through the paired sink lands on g1's carried marks
    IndexIngest.appendSinkPaired(Bq, pairBase)(
      b1.toDF("vec_id", "embedding"), 0L)
    assert(bqRows(g1Bq) == bqRows(cleanBq),
      "replay after the swap must not double-ingest")
  }

  test("recall gate with a co-maintained SQ8 table: heals, defers on SQ skew, retrains all three together") {
    // a derived Sq base opts the SQ8 code table into the gate: an IVF retrain
    // re-cells every dependent table, so the SQ table must move to the
    // new generation in the same decision — and its replay mark must
    // join the skew deferral (a retrain folding an SQ-uncommitted
    // batch in would double-ingest on that batch's replay)
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def vec(): Seq[Float] = Seq.fill(64)(rnd.nextFloat() - 0.5f)
    val baseVecs = (0L until 40L).map(i => (i, vec()))
    val b1 = (100L until 120L).map(i => (i, vec()))
    val bSkew = (300L until 305L).map(i => (i, vec()))
    val all = baseVecs ++ b1 ++ bSkew
    val root = java.nio.file.Files.createTempDirectory("graft-gate-sq")
    val ivfIdx = root.resolve("ivf").toString
    val pqIdx = root.resolve("pq").toString
    val sqIdx = root.resolve("sq").toString
    graft.stream.IndexIngest.bootstrap(
      IndexFamily.Ivf, ivfIdx, baseVecs.toDF("vec_id", "embedding"))
    graft.stream.IndexIngest.bootstrap(Pq.over(ivfIdx),
      pqIdx, baseVecs.toDF("vec_id", "embedding"))
    graft.stream.IndexIngest.bootstrap(Sq.over(ivfIdx),
      sqIdx, baseVecs.toDF("vec_id", "embedding"))
    for ((b, id) <- Seq((b1, 0L), (bSkew, 1L))) {
      graft.stream.IndexIngest.appendSink(IndexFamily.Ivf, ivfIdx, DefaultApp)(
        b.toDF("vec_id", "embedding"), id)
      graft.stream.IndexIngest.appendSink(Pq.over(ivfIdx), pqIdx)(
        b.toDF("vec_id", "embedding"), id)
    }
    // the SQ sink is one batch BEHIND: ivf/pq marks agree with each
    // other, so only the sq-mark check can defer this cycle
    graft.stream.IndexIngest.appendSink(Sq.over(ivfIdx), sqIdx)(
      b1.toDF("vec_id", "embedding"), 0L)
    def sqCodeRows(base: String) = spark.read
      .schema(graft.llm.Similarity.sqCodesSchema)
      .parquet(s"$base/codes").collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getSeq[Int](1))).toMap
    val sqBefore = sqCodeRows(sqIdx)
    val (_, _, firedSkew, retrainedSkew) =
      graft.stream.IndexIngest.recallGateAndRetrain(
        spark, ivfIdx, pqIdx, derived = Seq(Sq -> sqIdx))
    assert(firedSkew && !retrainedSkew,
      "an SQ-skewed cycle must defer the retrain")
    assert(sqCodeRows(sqIdx) == sqBefore,
      "a deferred cycle must not touch the SQ table")
    // drain the skew — the next cycle retrains ALL THREE
    graft.stream.IndexIngest.appendSink(Sq.over(ivfIdx), sqIdx)(
      bSkew.toDF("vec_id", "embedding"), 1L)
    val (_, _, fired, retrained) =
      graft.stream.IndexIngest.recallGateAndRetrain(
        spark, ivfIdx, pqIdx, derived = Seq(Sq -> sqIdx))
    assert(fired && retrained,
      "aligned marks + fired SLO must retrain the triple")
    // the retrained SQ table == a from-scratch bootstrap over all
    // vectors (ranges are vector-set-pure, cells from the new lists)
    val cleanIvf = root.resolve("clean-ivf").toString
    val cleanSq = root.resolve("clean-sq").toString
    graft.stream.IndexIngest.bootstrap(
      IndexFamily.Ivf, cleanIvf, all.toDF("vec_id", "embedding"))
    graft.stream.IndexIngest.bootstrap(Sq.over(cleanIvf),
      cleanSq, all.toDF("vec_id", "embedding"))
    assert(sqCodeRows(sqIdx) == sqCodeRows(cleanSq),
      "retrained SQ codes must equal a from-scratch build on all vectors")
    def paramRows(base: String) = spark.read
      .parquet(s"$base/params").collect()
      .map(r => (r.getSeq[Double](0), r.getSeq[Double](1))).toSeq
    assert(paramRows(sqIdx) == paramRows(cleanSq),
      "retrained ranges must reproduce bit-identically (vector-set-pure)")
    assert(graft.io.ArtifactStore.currentFingerprint(sqIdx) ==
      graft.io.ArtifactStore.currentFingerprint(cleanSq),
      "the rewrite must keep the chained fingerprint (same vector set)")
    // replay protection survived the co-retrain
    graft.stream.IndexIngest.appendSink(Sq.over(ivfIdx), sqIdx)(
      b1.toDF("vec_id", "embedding"), 0L)
    assert(sqCodeRows(sqIdx) == sqCodeRows(cleanSq),
      "replay after the co-retrain must not double-ingest")
    // SELF-HEAL: a crashed SQ rewrite (marker gone, data intact) heals
    // from the IVF artifact — fingerprint adopted, replay mark copied
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(sqIdx, "_FINGERPRINT"))
    assert(graft.io.ArtifactStore.currentFingerprint(sqIdx).isEmpty)
    val (q3, h3, _, _) =
      graft.stream.IndexIngest.recallGateAndRetrain(
        spark, ivfIdx, pqIdx, derived = Seq(Sq -> sqIdx))
    assert(q3 > 0 && h3 >= 0)
    assert(graft.io.ArtifactStore.currentFingerprint(sqIdx)
      == graft.io.ArtifactStore.currentFingerprint(ivfIdx),
      "the healed SQ artifact must carry the IVF artifact's fingerprint")
    assert(sqCodeRows(sqIdx) == sqCodeRows(cleanSq),
      "the healed SQ table must rebuild to the same rows")
    graft.stream.IndexIngest.appendSink(Sq.over(ivfIdx), sqIdx)(
      bSkew.toDF("vec_id", "embedding"), 1L)
    assert(sqCodeRows(sqIdx) == sqCodeRows(cleanSq),
      "the healed mark must still block replays of committed batches")
  }

  test("streaming recall gate: SLO-violating appends retrain to a from-scratch-identical generation") {
    // s24's audit→decide→retrain loop at maintenance cadence: appends
    // against frozen models degrade recall; the gate measures it off
    // the artifacts alone, retrains BOTH artifacts through rewrite
    // (same vector set → same fingerprint), and the result must be
    // row-identical to bootstrapping the full vector set from scratch
    // (deterministic training). The stream_state high-water mark must
    // survive, so replay protection carries across the retrain.
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def vec(): Seq[Float] = Seq.fill(64)(rnd.nextFloat() - 0.5f)
    val baseVecs = (0L until 40L).map(i => (i, vec()))
    val b1 = (100L until 120L).map(i => (i, vec()))
    val bSkew = (300L until 305L).map(i => (i, vec()))
    val all = baseVecs ++ b1 ++ bSkew
    val root = java.nio.file.Files.createTempDirectory("graft-gate")
    val ivfIdx = root.resolve("ivf").toString
    val pqIdx = root.resolve("pq").toString
    graft.stream.IndexIngest.bootstrap(
      IndexFamily.Ivf, ivfIdx, baseVecs.toDF("vec_id", "embedding"))
    graft.stream.IndexIngest.bootstrap(Pq.over(ivfIdx),
      pqIdx, baseVecs.toDF("vec_id", "embedding"))
    graft.stream.IndexIngest.appendSink(IndexFamily.Ivf, ivfIdx, DefaultApp)(
      b1.toDF("vec_id", "embedding"), 0L)
    graft.stream.IndexIngest.appendSink(Pq.over(ivfIdx), pqIdx)(
      b1.toDF("vec_id", "embedding"), 0L)
    // SKEW DEFERRAL first: append one more batch to the IVF side only
    // — the marks disagree, so even a violated SLO must NOT retrain
    // (retraining would fold the PQ-uncommitted batch into the code
    // table under PQ's old mark, and its replay would double-ingest)
    graft.stream.IndexIngest.appendSink(IndexFamily.Ivf, ivfIdx, DefaultApp)(
      bSkew.toDF("vec_id", "embedding"), 1L)
    val cbBefore = spark.read.parquet(s"$pqIdx/codebook").collect().toSet
    val (_, _, firedSkew, retrainedSkew) =
      graft.stream.IndexIngest.recallGateAndRetrain(spark, ivfIdx, pqIdx)
    assert(firedSkew && !retrainedSkew,
      "a skewed-marks cycle must defer the retrain")
    assert(spark.read.parquet(s"$pqIdx/codebook").collect().toSet
      == cbBefore, "a deferred cycle must not touch the artifacts")
    // drain the skew (PQ catches up) — the next cycle may retrain
    graft.stream.IndexIngest.appendSink(Pq.over(ivfIdx), pqIdx)(
      bSkew.toDF("vec_id", "embedding"), 1L)
    assert(graft.io.ArtifactStore.currentFingerprint(pqIdx).isDefined,
      "pq must be valid after the drain append")
    // a streamed DELETE lands before the retrain cycle. Its replay
    // mark lives on the IVF base alone under a del: lineage key —
    // there IS no PQ counterpart to skew against, so the gate must
    // not read it as skew and defer forever (review-caught); the
    // retrain must then physicalize the removal on every rebuilt
    // table. (Non-panel ids, so the audit panel stays 17.)
    val deleted = Set(102L, 303L)
    graft.stream.IndexIngest.deleteSink(IndexFamily.Ivf, ivfIdx)(
      deleted.toSeq.toDF("vec_id"), 0L)
    val live = all.filterNot(v => deleted(v._1))
    val (q, h, fired, retrained) =
      graft.stream.IndexIngest.recallGateAndRetrain(spark, ivfIdx, pqIdx)
    assert(q == 17, s"audit panel should be the 17 vec%4==0 ids, got $q")
    assert(h >= 0 && h <= 10L * q)
    assert(fired,
      s"frozen-model appends should violate the 0.9 SLO here (hits $h)")
    assert(retrained,
      "aligned append marks + fired SLO must retrain — a delete " +
        "lineage must never read as skew")
    // the retrained generation == a from-scratch bootstrap of the
    // LIVE vectors (training is deterministic in the vector set, and
    // the retrain physicalizes the streamed delete)
    val cleanIvf = root.resolve("clean-ivf").toString
    val cleanPq = root.resolve("clean-pq").toString
    graft.stream.IndexIngest.bootstrap(
      IndexFamily.Ivf, cleanIvf, live.toDF("vec_id", "embedding"))
    graft.stream.IndexIngest.bootstrap(Pq.over(cleanIvf),
      cleanPq, live.toDF("vec_id", "embedding"))
    def centroidRows(base: String) = spark.read
      .parquet(s"$base/centroids").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(centroidRows(ivfIdx) == centroidRows(cleanIvf),
      "retrained centroids must equal a from-scratch train on all vectors")
    def listRows(base: String) = spark.read
      .schema(graft.llm.Similarity.invertedListSchema)
      .parquet(s"$base/assignments").collect()
      .map(r => (r.getLong(0), r.getLong(3))).sortBy(_._1).toSeq
    assert(listRows(ivfIdx) == listRows(cleanIvf),
      "retrained assignments must equal the from-scratch assignment")
    def codeRows(base: String) = spark.read
      .schema(graft.llm.Similarity.pqCodesSchema)
      .parquet(s"$base/codes").collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getSeq[Int](1))).toMap
    assert(codeRows(pqIdx) == codeRows(cleanPq),
      "retrained codes must equal a from-scratch encode on all vectors")
    assert(spark.read.parquet(s"$pqIdx/codebook").collect().toSet ==
      spark.read.parquet(s"$cleanPq/codebook").collect().toSet,
      "retrained codebook must equal the from-scratch codebook")
    // rewrite contract: fingerprints did not move (same vector set)
    assert(graft.io.ArtifactStore.currentFingerprint(ivfIdx) ==
      graft.io.ArtifactStore.currentFingerprint(cleanIvf))
    // replay protection survived the retrain: the committed batch id
    // is still a wholesale no-op against the NEW generation
    val nBefore = listRows(ivfIdx).size
    graft.stream.IndexIngest.appendSink(IndexFamily.Ivf, ivfIdx, DefaultApp)(
      b1.toDF("vec_id", "embedding"), 0L)
    graft.stream.IndexIngest.appendSink(Pq.over(ivfIdx), pqIdx)(
      b1.toDF("vec_id", "embedding"), 0L)
    assert(listRows(ivfIdx).size == nBefore,
      "replay after retrain must not double-ingest")
    assert(codeRows(pqIdx) == codeRows(cleanPq),
      "replay after retrain must not change the code table")
    // and a LATER batch still appends against the new frozen models
    val b2 = (200L until 205L).map(i => (i, vec()))
    graft.stream.IndexIngest.appendSink(IndexFamily.Ivf, ivfIdx, DefaultApp)(
      b2.toDF("vec_id", "embedding"), 2L)
    assert(listRows(ivfIdx).size == nBefore + 5,
      "the maintenance loop must keep accepting appends after a retrain")
    graft.stream.IndexIngest.appendSink(Pq.over(ivfIdx), pqIdx)(
      b2.toDF("vec_id", "embedding"), 2L)
    // SELF-HEAL: simulate a crash inside a PQ rewrite (marker gone,
    // data intact) — the sinks would throw; the next gate cycle must
    // rebuild the PQ artifact from the IVF artifact, restore the
    // replay mark, and proceed with a valid audit
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(pqIdx, "_FINGERPRINT"))
    assert(graft.io.ArtifactStore.currentFingerprint(pqIdx).isEmpty)
    val (q3, h3, _, _) =
      graft.stream.IndexIngest.recallGateAndRetrain(spark, ivfIdx, pqIdx)
    assert(q3 > 0 && h3 >= 0)
    assert(graft.io.ArtifactStore.currentFingerprint(pqIdx)
      == graft.io.ArtifactStore.currentFingerprint(ivfIdx),
      "the healed PQ artifact must carry the IVF artifact's fingerprint")
    // the healed mark still blocks replays of committed batches
    val codesHealed = codeRows(pqIdx)
    graft.stream.IndexIngest.appendSink(Pq.over(ivfIdx), pqIdx)(
      b2.toDF("vec_id", "embedding"), 2L)
    assert(codeRows(pqIdx) == codesHealed,
      "replay after self-heal must not double-ingest")
    // IVF SELF-HEAL: a crash inside the gate's own IVF rewrite leaves
    // the IVF artifact marker-less with intact data — the next cycle
    // must re-mark it from its own rows (recomputed xor-composed
    // fingerprint equals the chained one) instead of bricking every
    // sink until manual surgery
    val ivfFpBefore = graft.io.ArtifactStore.currentFingerprint(ivfIdx)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(ivfIdx, "_FINGERPRINT"))
    assert(graft.io.ArtifactStore.currentFingerprint(ivfIdx).isEmpty)
    graft.stream.IndexIngest.recallGateAndRetrain(spark, ivfIdx, pqIdx)
    assert(graft.io.ArtifactStore.currentFingerprint(ivfIdx)
      == ivfFpBefore,
      "the healed IVF artifact must recompute the exact chained fingerprint")
    // replay protection survived the heal too
    val nHealed = listRows(ivfIdx).size
    graft.stream.IndexIngest.appendSink(IndexFamily.Ivf, ivfIdx, DefaultApp)(
      b2.toDF("vec_id", "embedding"), 2L)
    assert(listRows(ivfIdx).size == nHealed,
      "replay after IVF self-heal must not double-ingest")
  }

  test("compaction policy: merges only past the fragmentation threshold, then back to one file per cell") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    def vec(): Seq[Float] = Seq.fill(64)(rnd.nextFloat() - 0.5f)
    val root = java.nio.file.Files.createTempDirectory("graft-policy")
    val idx = root.resolve("ivf").toString
    graft.stream.IndexIngest.bootstrap(
      IndexFamily.Ivf, idx,
      (0L until 30L).map(i => (i, vec())).toDF("vec_id", "embedding"))
    graft.stream.IndexIngest.appendSink(IndexFamily.Ivf, idx, DefaultApp)(
      (100L until 140L).map(i => (i, vec())).toDF("vec_id", "embedding"), 0L)
    graft.stream.IndexIngest.appendSink(IndexFamily.Ivf, idx, DefaultApp)(
      (200L until 240L).map(i => (i, vec())).toDF("vec_id", "embedding"), 1L)
    val frag = graft.stream.IndexIngest.fragmentation(idx, "assignments")
    assert(frag >= 2, s"appends should fragment the hottest cell, got $frag")
    // under the threshold: the policy must NOT rewrite (compacting per
    // append is O(index) work for O(batch) input)
    assert(!graft.stream.IndexIngest.maybeCompact(IndexFamily.Ivf,
      spark, idx, maxFilesPerCell = frag + 1))
    assert(graft.stream.IndexIngest.fragmentation(idx, "assignments")
      == frag, "a declined policy check must not touch the layout")
    // at the threshold: one file per cell, fingerprint unchanged
    // (layout-only), and the next check is a no-op again
    val fpBefore = graft.io.ArtifactStore.currentFingerprint(idx)
    assert(graft.stream.IndexIngest.maybeCompact(IndexFamily.Ivf,
      spark, idx, maxFilesPerCell = frag))
    assert(graft.stream.IndexIngest.fragmentation(idx, "assignments") == 1)
    assert(graft.io.ArtifactStore.currentFingerprint(idx) == fpBefore,
      "policy-triggered compaction is layout-only")
    assert(!graft.stream.IndexIngest.maybeCompact(IndexFamily.Ivf,
      spark, idx, maxFilesPerCell = 2),
      "a freshly-compacted index must not re-compact")
  }

  test("re-running bootstrap after streamed appends never sweeps the grown index") {
    // the chained fingerprint no longer matches the initial corpus, so
    // a naive bootstrap would trigger ensure's full rebuild and SWEEP
    // the appended rows + the replay mark; bootstrap must initialize
    // only — a living index is untouchable by it
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    def vec(): Seq[Float] = Seq.fill(64)(rnd.nextFloat() - 0.5f)
    val initial = (0L until 20L).map(i => (i, vec()))
    val b1 = (100L until 110L).map(i => (i, vec()))
    val idx = java.nio.file.Files.createTempDirectory("graft-reboot")
      .resolve("ivf").toString
    assert(graft.stream.IndexIngest.bootstrap(
      IndexFamily.Ivf, idx, initial.toDF("vec_id", "embedding"))
      == graft.stream.IndexIngest.BootstrapStatus.Built)
    // an immediate repeat run is the observable Current no-op
    assert(graft.stream.IndexIngest.bootstrap(
      IndexFamily.Ivf, idx, initial.toDF("vec_id", "embedding"))
      == graft.stream.IndexIngest.BootstrapStatus.Current)
    graft.stream.IndexIngest.appendSink(IndexFamily.Ivf, idx, DefaultApp)(
      b1.toDF("vec_id", "embedding"), 0L)
    def stored() = spark.read
      .schema(graft.llm.Similarity.invertedListSchema)
      .parquet(s"$idx/assignments").count()
    val fpGrown = graft.io.ArtifactStore.currentFingerprint(idx)
    assert(stored() == 30)
    // the driver restarts and re-runs its init path — a no-op now,
    // but an OBSERVABLE one: the skip against a diverged fingerprint
    // (grown index — or a changed corpus) reports itself (ADVICE r11)
    assert(graft.stream.IndexIngest.bootstrap(
      IndexFamily.Ivf, idx, initial.toDF("vec_id", "embedding"))
      == graft.stream.IndexIngest.BootstrapStatus.KeptDivergent)
    assert(stored() == 30, "re-bootstrap swept the appended rows")
    assert(graft.io.ArtifactStore.currentFingerprint(idx) == fpGrown)
    // the replay mark survived too: the committed batch is still a no-op
    graft.stream.IndexIngest.appendSink(IndexFamily.Ivf, idx, DefaultApp)(
      b1.toDF("vec_id", "embedding"), 0L)
    assert(stored() == 30, "re-bootstrap lost the replay mark")
  }

  test("a crashed compaction publish cannot cost a living index its appends: bootstrap rolls back") {
    // grow a BM25 index by a streamed append, simulate a death inside
    // the BM25 compact's publish renames (marker + postings stranded in the
    // .tmp-old-* aside — exactly what the aside protocol leaves), then
    // re-run the driver init path. The old flow fell through to
    // ensure, whose orphan reap destroyed the aside — the ONLY copy of
    // the appended segment (BM25 cannot re-mark from its own rows: the
    // fingerprint hashes raw doc text, which postings do not carry) —
    // and silently rebuilt from the initial corpus (review-caught r12).
    import spark.implicits._
    import graft.stream.IndexIngest
    val docs0 = (0L until 8L)
      .map(i => (i, s"alpha beta gamma doc$i"))
      .toDF("doc_id", "text")
    val b1 = (100L until 104L)
      .map(i => (i, s"delta epsilon doc$i"))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft-bmcrash")
      .resolve("bm25").toString
    assert(IndexIngest.bootstrap(IndexFamily.Bm25, idx, docs0)
      == IndexIngest.BootstrapStatus.Built)
    IndexIngest.appendSink(IndexFamily.Bm25, idx, DefaultApp)(b1, 0L)
    val fpGrown = graft.io.ArtifactStore.currentFingerprint(idx)
    assert(fpGrown.isDefined)
    def postingRows() = spark.read
      .schema(graft.llm.Retrieval.segPostingsSchema)
      .parquet(s"$idx/postings").count()
    val grownRows = postingRows()
    // simulate the mid-publish death
    val base = java.nio.file.Paths.get(idx)
    val aside = base.resolve(".tmp-old-crash")
    java.nio.file.Files.createDirectories(aside)
    java.nio.file.Files.move(base.resolve("_FINGERPRINT"),
      aside.resolve("_FINGERPRINT"))
    java.nio.file.Files.move(base.resolve("postings"),
      aside.resolve("postings"))
    val staging = base.resolve(".tmp-crash")
    java.nio.file.Files.createDirectories(staging.resolve("postings"))
    java.nio.file.Files.write(
      staging.resolve("postings").resolve("part-half"),
      "torn".getBytes("UTF-8"))
    assert(graft.io.ArtifactStore.currentFingerprint(idx).isEmpty)
    // the driver restarts: bootstrap must roll the publish back and
    // KEEP the grown index — never rebuild over it
    assert(IndexIngest.bootstrap(IndexFamily.Bm25, idx, docs0)
      == IndexIngest.BootstrapStatus.KeptDivergent,
      "bootstrap must observe the rolled-back grown index, not rebuild")
    assert(graft.io.ArtifactStore.currentFingerprint(idx) == fpGrown,
      "the grown fingerprint must survive the crash + re-init")
    assert(postingRows() == grownRows,
      "the appended segment must survive the crash + re-init")
    // the replay mark survived too
    IndexIngest.appendSink(IndexFamily.Bm25, idx, DefaultApp)(b1, 0L)
    assert(postingRows() == grownRows, "replay must still be a no-op")
  }

  test("paired retrain swap-race: a batch committing mid-retrain defers the swap, nothing lost") {
    // the residual window of the generation-pointer posture: a sink
    // commits to g<N> while the gate is building g<N+1> — the new
    // generation carries neither the rows nor the mark. The gate must
    // observe the moved marks at swap time and ABANDON the swap; the
    // next aligned cycle retrains over the full row set.
    import spark.implicits._
    import graft.stream.IndexIngest
    val rnd = new scala.util.Random(14)
    def vec(): Seq[Float] = Seq.fill(64)(rnd.nextFloat() - 0.5f)
    val baseVecs = (0L until 40L).map(i => (i, vec()))
    val b1 = (100L until 120L).map(i => (i, vec()))
    val b2 = (200L until 205L).map(i => (i, vec()))
    val pairBase = java.nio.file.Files.createTempDirectory("graft-pairrace")
      .resolve("ivfpq").toString
    IndexIngest.bootstrapPair(pairBase, baseVecs.toDF("vec_id", "embedding"))
    IndexIngest.appendSinkPaired(IndexFamily.Ivf, pairBase)(
      b1.toDF("vec_id", "embedding"), 0L)
    IndexIngest.appendSinkPaired(Pq, pairBase)(
      b1.toDF("vec_id", "embedding"), 0L)
    def listRows() = spark.read
      .schema(graft.llm.Similarity.invertedListSchema)
      .parquet(s"${IndexIngest.resolvePair(pairBase)._1}/assignments")
      .count()
    // race: a batch lands between the two generation builds
    val (q1, h1, fired1, retrained1) =
      IndexIngest.recallGateAndRetrainPaired(spark, pairBase, () => {
        IndexIngest.appendSinkPaired(IndexFamily.Ivf, pairBase)(
          b2.toDF("vec_id", "embedding"), 1L)
        IndexIngest.appendSinkPaired(Pq, pairBase)(
          b2.toDF("vec_id", "embedding"), 1L)
      })
    assert(fired1, s"recall should have fired (hits $h1 of $q1 queries)")
    assert(!retrained1, "a mid-retrain commit must defer the swap")
    assert(IndexIngest.currentGen(pairBase).contains("g0"),
      "the pointer must not move when the swap is deferred")
    assert(listRows() == 65, "the racing batch's rows live in g0")
    // the next aligned cycle retrains over ALL rows
    val (_, _, fired2, retrained2) =
      IndexIngest.recallGateAndRetrainPaired(spark, pairBase)
    assert(fired2 && retrained2, "the aligned cycle must complete the swap")
    assert(IndexIngest.currentGen(pairBase).contains("g1"))
    assert(listRows() == 65, "the new generation carries the racing batch")
    // and its replay against the new generation is a no-op
    IndexIngest.appendSinkPaired(IndexFamily.Ivf, pairBase)(
      b2.toDF("vec_id", "embedding"), 1L)
    assert(listRows() == 65)
  }

  test("paired retrain withSq: the SQ8 table rides the generation swap, never mixed") {
    // a generation bootstrapped withSq carries the SQ8 table through
    // the pointer machinery: mid-build readers still resolve the
    // complete OLD triple, the swap lands all three artifacts at once,
    // and an SQ-only commit during the build defers the swap (the new
    // generation would carry neither its rows nor its mark)
    import spark.implicits._
    import graft.stream.IndexIngest
    val rnd = new scala.util.Random(15)
    def vec(): Seq[Float] = Seq.fill(64)(rnd.nextFloat() - 0.5f)
    val baseVecs = (0L until 40L).map(i => (i, vec()))
    val b1 = (100L until 120L).map(i => (i, vec()))
    val b2 = (200L until 220L).map(i => (i, vec()))
    val b3 = (300L until 305L).map(i => (i, vec()))
    val pairBase = java.nio.file.Files.createTempDirectory("graft-pairsq")
      .resolve("trio").toString
    IndexIngest.bootstrapPair(pairBase, baseVecs.toDF("vec_id", "embedding"),
      derived = Seq(Sq))
    assert(IndexIngest.resolveMember(Sq, pairBase).isDefined,
      "a withSq bootstrap must expose the generation's SQ base")
    def appendAll(b: Seq[(Long, Seq[Float])], id: Long): Unit = {
      IndexIngest.appendSinkPaired(IndexFamily.Ivf, pairBase)(
        b.toDF("vec_id", "embedding"), id)
      IndexIngest.appendSinkPaired(Pq, pairBase)(
        b.toDF("vec_id", "embedding"), id)
      IndexIngest.appendSinkPaired(Sq, pairBase)(
        b.toDF("vec_id", "embedding"), id)
    }
    appendAll(b1, 0L)
    def sqRows(base: String) = spark.read
      .schema(graft.llm.Similarity.sqCodesSchema)
      .parquet(s"$base/codes").collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getSeq[Int](1))).toMap
    // mid-build, a reader must still resolve the complete OLD triple
    var midGen: Option[String] = None
    var midSqServes = false
    val (_, h1, fired1, retrained1) =
      IndexIngest.recallGateAndRetrainPaired(spark, pairBase, () => {
        midGen = IndexIngest.currentGen(pairBase)
        midSqServes = IndexIngest.resolveMember(Sq, pairBase).exists(p =>
          graft.io.ArtifactStore.currentFingerprint(p).isDefined)
      })
    assert(fired1, s"recall should have fired (hits $h1)")
    assert(retrained1, "aligned marks + fired SLO must swap the triple")
    assert(midGen.contains("g0") && midSqServes,
      "mid-build readers must resolve the complete old generation")
    assert(IndexIngest.currentGen(pairBase).contains("g1"))
    val g1Sq = IndexIngest.resolveMember(Sq, pairBase).get
    // the swapped-in SQ table == a from-scratch build over all vectors
    val all = baseVecs ++ b1
    val root2 = java.nio.file.Files.createTempDirectory("graft-pairsq-clean")
    val cleanIvf = root2.resolve("ivf").toString
    val cleanSq = root2.resolve("sq").toString
    IndexIngest.bootstrap(IndexFamily.Ivf, cleanIvf, all.toDF("vec_id", "embedding"))
    IndexIngest.bootstrap(Sq.over(cleanIvf), cleanSq, all.toDF("vec_id", "embedding"))
    assert(sqRows(g1Sq) == sqRows(cleanSq),
      "the new generation's SQ table must equal a from-scratch build")
    // replay through the paired sink lands on g1's mark map — no-op
    IndexIngest.appendSinkPaired(Sq, pairBase)(
      b1.toDF("vec_id", "embedding"), 0L)
    assert(sqRows(g1Sq) == sqRows(cleanSq),
      "replay after the swap must not double-ingest")
    // SQ-ONLY mid-build commit: the new generation would miss its rows
    // and mark — the gate must observe the moved SQ mark and defer
    appendAll(b2, 1L)
    val (_, h2, fired2, retrained2) =
      IndexIngest.recallGateAndRetrainPaired(spark, pairBase, () => {
        IndexIngest.appendSinkPaired(Sq, pairBase)(
          b3.toDF("vec_id", "embedding"), 2L)
      })
    assert(fired2, s"recall should have fired again (hits $h2)")
    assert(!retrained2, "an SQ commit mid-build must defer the swap")
    assert(IndexIngest.currentGen(pairBase).contains("g1"),
      "the pointer must not move when the swap is deferred")
    // drain: the feed delivers b3 to the other sinks; the next aligned
    // cycle completes the swap with the racing batch carried
    IndexIngest.appendSinkPaired(IndexFamily.Ivf, pairBase)(
      b3.toDF("vec_id", "embedding"), 2L)
    IndexIngest.appendSinkPaired(Pq, pairBase)(
      b3.toDF("vec_id", "embedding"), 2L)
    val (_, _, fired3, retrained3) =
      IndexIngest.recallGateAndRetrainPaired(spark, pairBase)
    assert(fired3 && retrained3, "the aligned cycle must complete the swap")
    assert(IndexIngest.currentGen(pairBase).contains("g2"))
    val g2Sq = IndexIngest.resolveMember(Sq, pairBase).get
    assert(sqRows(g2Sq).keySet ==
      (all ++ b2 ++ b3).map(_._1).toSet,
      "the final generation must carry the racing batch's codes")
    // and the racing batch's replay is a no-op against g2
    IndexIngest.appendSinkPaired(Sq, pairBase)(
      b3.toDF("vec_id", "embedding"), 2L)
    assert(sqRows(g2Sq).keySet == (all ++ b2 ++ b3).map(_._1).toSet)
  }

  test("late withSq adoption builds the SQ member from the IVF sibling, not the offered corpus") {
    // a pair that streamed appends BEFORE the operator turned on
    // withSq: building the new member from the offered bootstrap
    // corpus would silently miss every appended vector and, with an
    // empty mark map, defer every future retrain forever — adoption
    // must build from the IVF lists and carry the IVF marks
    import spark.implicits._
    import graft.stream.IndexIngest
    val rnd = new scala.util.Random(16)
    def vec(): Seq[Float] = Seq.fill(64)(rnd.nextFloat() - 0.5f)
    val baseVecs = (0L until 40L).map(i => (i, vec()))
    val b1 = (100L until 120L).map(i => (i, vec()))
    val pairBase = java.nio.file.Files.createTempDirectory("graft-adopt")
      .resolve("trio").toString
    IndexIngest.bootstrapPair(pairBase, baseVecs.toDF("vec_id", "embedding"))
    assert(IndexIngest.resolveMember(Sq, pairBase).isEmpty,
      "withSq=false must not create an SQ member")
    IndexIngest.appendSinkPaired(IndexFamily.Ivf, pairBase)(
      b1.toDF("vec_id", "embedding"), 0L)
    IndexIngest.appendSinkPaired(Pq, pairBase)(
      b1.toDF("vec_id", "embedding"), 0L)
    // late adoption, offered the ORIGINAL bootstrap corpus
    IndexIngest.bootstrapPair(pairBase, baseVecs.toDF("vec_id", "embedding"),
      derived = Seq(Sq))
    val sq = IndexIngest.resolveMember(Sq, pairBase).get
    def sqIds() = spark.read
      .schema(graft.llm.Similarity.sqCodesSchema)
      .parquet(s"$sq/codes").collect().map(_.getLong(0)).toSet
    assert(sqIds() == (baseVecs ++ b1).map(_._1).toSet,
      "the adopted table must carry the appended vectors, not just the corpus")
    // the IVF marks came with it: the committed batch replays as a no-op
    IndexIngest.appendSinkPaired(Sq, pairBase)(
      b1.toDF("vec_id", "embedding"), 0L)
    assert(sqIds() == (baseVecs ++ b1).map(_._1).toSet,
      "the adopted mark map must block replays of committed batches")
    // and the gate is NOT wedged: aligned marks + fired SLO swap the triple
    val (_, h, fired, retrained) =
      IndexIngest.recallGateAndRetrainPaired(spark, pairBase)
    assert(fired, s"frozen-model appends should violate the SLO (hits $h)")
    assert(retrained,
      "adoption must leave the marks aligned — the gate was wedged")
    assert(IndexIngest.currentGen(pairBase).contains("g1"))
    assert(IndexIngest.resolveMember(Sq, pairBase).isDefined,
      "the adopted member must ride the swap")
  }

  test("(appId, batchId) replay marks: two query lineages interleave without aliasing") {
    // two distinct streaming queries feeding ONE artifact each number
    // their batches from 0 — with a single high-water mark, lineage
    // B's batch 0 would read as a replay of lineage A's committed
    // batch 0 and be silently dropped. The mark is a per-appId map
    // (Delta's idempotent-sink key): replays skip only within their
    // own lineage (VERDICT r11 #4).
    import spark.implicits._
    import graft.stream.IndexIngest
    val rnd = new scala.util.Random(13)
    def vec(): Seq[Float] = Seq.fill(64)(rnd.nextFloat() - 0.5f)
    val initial = (0L until 20L).map(i => (i, vec()))
    val a0 = (100L until 105L).map(i => (i, vec()))
    val b0 = (200L until 206L).map(i => (i, vec()))
    val a1 = (110L until 114L).map(i => (i, vec()))
    val idx = java.nio.file.Files.createTempDirectory("graft-lineage")
      .resolve("ivf").toString
    IndexIngest.bootstrap(IndexFamily.Ivf, idx, initial.toDF("vec_id", "embedding"))
    def stored() = spark.read
      .schema(graft.llm.Similarity.invertedListSchema)
      .parquet(s"$idx/assignments").count()
    IndexIngest.appendSink(IndexFamily.Ivf, idx, "appA")(
      a0.toDF("vec_id", "embedding"), 0L)
    assert(stored() == 25)
    // lineage B's batch 0 is NOT a replay of lineage A's batch 0
    IndexIngest.appendSink(IndexFamily.Ivf, idx, "appB")(
      b0.toDF("vec_id", "embedding"), 0L)
    assert(stored() == 31, "cross-lineage batch-id aliasing dropped a batch")
    // replays of EITHER lineage are wholesale no-ops
    IndexIngest.appendSink(IndexFamily.Ivf, idx, "appA")(
      a0.toDF("vec_id", "embedding"), 0L)
    IndexIngest.appendSink(IndexFamily.Ivf, idx, "appB")(
      b0.toDF("vec_id", "embedding"), 0L)
    assert(stored() == 31, "replay within a lineage must be a no-op")
    // each lineage's next batch still appends
    IndexIngest.appendSink(IndexFamily.Ivf, idx, "appA")(
      a1.toDF("vec_id", "embedding"), 1L)
    assert(stored() == 35)
    // a legacy single-number mark file reads as the DEFAULT lineage's
    // mark (pre-map artifacts keep their replay protection): the
    // replay check runs BEFORE manifest validation, so the default
    // sink must skip batch 9 against the bare "9" file
    java.nio.file.Files.write(
      java.nio.file.Paths.get(idx, "stream_state"), "9".getBytes("UTF-8"))
    IndexIngest.appendSink(IndexFamily.Ivf, idx, DefaultApp)(
      a0.toDF("vec_id", "embedding"), 9L)
    assert(stored() == 35, "legacy mark must gate the default lineage")
  }

  test("paired-generation retrain: probes mid-retrain see the old pair whole, never mixed; marks survive the swap") {
    // the generation-pointer posture closes the cross-artifact publish
    // gap of the in-place gate: the retrain builds the COMPLETE next
    // generation (IVF then PQ) beside the serving one and swaps one
    // pointer atomically — a probe that resolves the pair can only
    // observe old-complete or new-complete, even in the window between
    // the two artifact builds (where the in-place posture serves
    // new-IVF + old-PQ).
    import spark.implicits._
    import graft.stream.IndexIngest
    val rnd = new scala.util.Random(12)
    def vec(): Seq[Float] = Seq.fill(64)(rnd.nextFloat() - 0.5f)
    val baseVecs = (0L until 40L).map(i => (i, vec()))
    val b1 = (100L until 120L).map(i => (i, vec()))
    val pairBase = java.nio.file.Files.createTempDirectory("graft-pair")
      .resolve("ivfpq").toString
    assert(IndexIngest.bootstrapPair(pairBase,
      baseVecs.toDF("vec_id", "embedding"))
      == IndexIngest.BootstrapStatus.Built)
    assert(IndexIngest.currentGen(pairBase).contains("g0"))
    // a stale generation remnant (crashed ancient retrain) to prove
    // the retention sweep; and the serving pair resolves consistently
    val stale = java.nio.file.Paths.get(pairBase, "g_stale")
    java.nio.file.Files.createDirectories(stale)
    java.nio.file.Files.write(stale.resolve("junk"), "x".getBytes("UTF-8"))
    def listRows(iv: String) = spark.read
      .schema(graft.llm.Similarity.invertedListSchema)
      .parquet(s"$iv/assignments").count()
    def servedSet(): Set[(Long, Long)] = {
      val (iv, pq) = IndexIngest.resolvePair(pairBase)
      // pair consistency: both bases under ONE generation dir, both
      // valid, both at the same (content) fingerprint
      val gi = new java.io.File(iv).getParentFile
      val gp = new java.io.File(pq).getParentFile
      assert(gi == gp, s"pair resolved across generations: $gi vs $gp")
      val fi = graft.io.ArtifactStore.currentFingerprint(iv)
      val fp = graft.io.ArtifactStore.currentFingerprint(pq)
      assert(fi.isDefined && fi == fp,
        s"pair fingerprints diverge: $fi vs $fp")
      val panel = spark.read
        .schema(graft.llm.Similarity.invertedListSchema)
        .parquet(s"$iv/assignments")
        .filter(col("vec_id") % 4 === 0)
        .select(col("vec_id"), col("embedding"), col("norm"))
      graft.llm.Similarity.serveFrom(Pq, spark, panel, iv, pq)
        .select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // grow through the paired sinks (degrading recall vs the frozen
    // g0 models), then snapshot what the old pair serves
    IndexIngest.appendSinkPaired(IndexFamily.Ivf, pairBase)(
      b1.toDF("vec_id", "embedding"), 0L)
    IndexIngest.appendSinkPaired(Pq, pairBase)(
      b1.toDF("vec_id", "embedding"), 0L)
    val servedBefore = servedSet()
    assert(servedBefore.nonEmpty)
    var midChecked = false
    val (q, h, fired, retrained) = IndexIngest.recallGateAndRetrainPaired(
      spark, pairBase, () => {
        // the widest point of the old mixed window: new IVF built,
        // PQ training not started — the pointer must still name g0
        // and the served answer must be EXACTLY the pre-retrain one
        assert(IndexIngest.currentGen(pairBase).contains("g0"),
          "pointer must not move before the pair is complete")
        assert(servedSet() == servedBefore,
          "mid-retrain probes must see the old generation, unchanged")
        midChecked = true
      })
    assert(q == 15, s"audit panel: 15 vec%4==0 ids, got $q")
    assert(fired, s"frozen-model appends should violate the SLO (hits $h)")
    assert(retrained && midChecked)
    assert(IndexIngest.currentGen(pairBase).contains("g1"))
    val (iv1, pq1) = IndexIngest.resolvePair(pairBase)
    assert(listRows(iv1) == 60)
    assert(servedSet().nonEmpty, "the new pair must serve")
    // retention: the stale remnant is gone, the just-replaced g0
    // survives as the reader grace copy
    assert(!java.nio.file.Files.exists(stale), "stale generations swept")
    assert(graft.io.ArtifactStore
      .currentFingerprint(s"$pairBase/g0/ivf").isDefined,
      "the previous generation is kept for in-flight readers")
    // replay marks survived the swap: the committed batch is a
    // wholesale no-op against the NEW generation…
    IndexIngest.appendSinkPaired(IndexFamily.Ivf, pairBase)(
      b1.toDF("vec_id", "embedding"), 0L)
    IndexIngest.appendSinkPaired(Pq, pairBase)(
      b1.toDF("vec_id", "embedding"), 0L)
    assert(listRows(iv1) == 60, "replay after swap must not double-ingest")
    // …and a LATER batch still appends to the new generation
    val b2 = (200L until 205L).map(i => (i, vec()))
    IndexIngest.appendSinkPaired(IndexFamily.Ivf, pairBase)(
      b2.toDF("vec_id", "embedding"), 1L)
    IndexIngest.appendSinkPaired(Pq, pairBase)(
      b2.toDF("vec_id", "embedding"), 1L)
    assert(listRows(iv1) == 65)
    assert(spark.read.schema(graft.llm.Similarity.pqCodesSchema)
      .parquet(s"$pq1/codes").count() == 65)
  }

  test("streaming LSH ingest: appended postings serve the dedup probe exactly") {
    // the THIRD exactly-once index sink (IVF vectors, BM25 segments,
    // now LSH dedup postings): micro-batches of surviving docs fold
    // into the standing index's digests + band postings; after the
    // stream, the grown index must classify the new batch exactly as
    // d18's single-shot index over the same standing corpus does —
    // then a replayed batch id is a no-op and compaction rewrites each
    // band to one file without moving the fingerprint or the answers
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables(spark, sf, "documents")
    def rowsOf(pred: org.apache.spark.sql.Column): Seq[(Long, String)] =
      docs.filter(pred).select(col("doc_id"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
    val idx = java.nio.file.Files.createTempDirectory("graft-stream-lsh")
      .resolve("idx").toString
    // bootstrap on one half of the standing corpus, stream the other
    // half in two micro-batches (standing corpus = doc_id % 3 != 0)
    graft.stream.IndexIngest.bootstrap(
      IndexFamily.Lsh, idx, docs.filter(col("doc_id") % 3 === 1))
    val b0 = rowsOf(col("doc_id") % 3 === 2 && col("doc_id") % 2 === 0)
    val b1 = rowsOf(col("doc_id") % 3 === 2 && col("doc_id") % 2 === 1)
    val src = MemoryStream[(Long, String)]
    val q = src.toDS().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(
        graft.stream.IndexIngest.appendSink(IndexFamily.Lsh, idx, DefaultApp) _)
      .start()
    try {
      src.addData(b0); q.processAllAvailable()
      src.addData(b1); q.processAllAvailable()
    } finally q.stop()
    def postingCount(): Long =
      spark.read.schema(graft.llm.Dedup.bandIdxSchema)
        .parquet(s"$idx/bands").count()
    val nAfterStream = postingCount()
    // a replayed committed batch id (restarted query) is a no-op
    graft.stream.IndexIngest.appendSink(IndexFamily.Lsh, idx, DefaultApp)(
      b1.toDF("doc_id", "text"), 1L)
    assert(postingCount() == nAfterStream, "replay must not double-ingest")
    assert(graft.io.ArtifactStore.currentFingerprint(idx).isDefined,
      "appends must leave a valid, manifest-covered artifact")
    // the streamed index answers the d18/d19 probe exactly like the
    // single-shot standing-corpus index
    def probeRows(base: String) =
      graft.llm.Dedup.probeDedupIndex(spark, sf, base).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = graft.llm.Dedup.d18PersistedDedupIndex(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val got = probeRows(idx)
    assert(got.nonEmpty)
    assert(got == want,
      "the streamed index must classify exactly like the batch-built one")
    // COMPACTION: appends left one file per batch under touched band
    // dirs; the merge job leaves exactly one per band, same
    // fingerprint, same probe answers
    def bandFiles(): Map[String, Int] = {
      val root = new java.io.File(s"$idx/bands")
      root.listFiles().filter(_.isDirectory).map { d =>
        d.getName -> d.listFiles().count(_.getName.startsWith("part-"))
      }.toMap
    }
    assert(bandFiles().values.exists(_ > 1),
      "appends should have left multi-file bands to make compaction real")
    val fpBefore = graft.io.ArtifactStore.currentFingerprint(idx)
    assert(graft.stream.IndexIngest.compact(IndexFamily.Lsh, spark, idx))
    assert(bandFiles().values.forall(_ == 1),
      s"compaction must leave one file per band, got ${bandFiles()}")
    assert(graft.io.ArtifactStore.currentFingerprint(idx) == fpBefore,
      "compaction must not move the corpus fingerprint")
    assert(probeRows(idx) == want,
      "the compacted index must still answer exactly")
  }

  test("streaming LSH takedowns: tombstone sink exactly-once, probe re-admits, " +
      "compaction physicalizes with the fingerprint intact") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables(spark, sf, "documents")
    val standing = docs.filter(col("doc_id") % 3 =!= 0)
    val idx = java.nio.file.Files.createTempDirectory("graft-stream-lshdel")
      .resolve("idx").toString
    graft.stream.IndexIngest.bootstrap(IndexFamily.Lsh, idx,
      standing.select(col("doc_id"), col("text")))
    val delPred = col("doc_id") % graft.llm.Dedup.TakedownMod ===
      graft.llm.Dedup.TakedownRem
    // the request stream carries EVERY %11==2 id, including new-batch
    // ids that were never indexed — the plan must ignore those
    val delIds = docs.filter(delPred)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq.sorted
    val (half1, half2) = delIds.partition(_ % 2 == 0)
    val src = MemoryStream[Long]
    val q = src.toDS().toDF("doc_id")
      .writeStream
      .foreachBatch(graft.stream.IndexIngest.deleteSink(IndexFamily.Lsh, idx) _)
      .start()
    try {
      src.addData(half1: _*); q.processAllAvailable()
      src.addData(half2: _*); q.processAllAvailable()
    } finally q.stop()
    // fingerprint == a fresh fingerprint of the live standing docs
    val (ln, lx) = graft.llm.IndexFamily.Bm25.parts(
      standing.filter(!delPred))
    assert(graft.io.ArtifactStore.currentFingerprint(idx)
      .contains(graft.io.ArtifactStore.fingerprint(ln, lx)),
      "fingerprint must equal the live standing docs' fingerprint")
    val fpAfter = graft.io.ArtifactStore.currentFingerprint(idx)
    // replay of a committed delete batch is a no-op
    graft.stream.IndexIngest.deleteSink(IndexFamily.Lsh, idx)(
      half2.toDF("doc_id"), 1L)
    assert(graft.io.ArtifactStore.currentFingerprint(idx) == fpAfter)
    // the tombstone-bearing streamed index must classify exactly like
    // d20's batch artifact (same standing corpus, same takedown set)
    def probeRows(base: String) =
      graft.llm.Dedup.probeDedupIndex(spark, sf, base).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = graft.llm.Dedup.d20IndexTakedown(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(probeRows(idx) == want,
      "streamed takedowns must serve the d20 contract")
    // compaction physicalizes: digest rows and band postings of the
    // tombstoned docs drop, tombstones clear, fingerprint unchanged
    assert(graft.stream.IndexIngest.compact(IndexFamily.Lsh, spark, idx))
    assert(graft.stream.IndexIngest.tombstoneFiles(idx) == 0)
    assert(graft.io.ArtifactStore.currentFingerprint(idx) == fpAfter)
    val storedIds = spark.read.schema(graft.llm.Dedup.digestSchema)
      .parquet(s"$idx/digests").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(delIds.forall(!storedIds.contains(_)),
      "compacted digests must not contain tombstoned docs")
    assert(probeRows(idx) == want,
      "the physicalized index must still serve the d20 contract")
  }

  test("streaming BM25 ingest: segment-per-batch index equals from-scratch s10") {
    // the lexical twin of the streaming IVF ingest: every micro-batch
    // of documents becomes one delta SEGMENT with segment-local
    // df/totals; since the bootstrap + batches PARTITION the corpus,
    // the N-segment merged probe must answer IDENTICALLY to s10's
    // from-scratch single index — the strongest possible correctness
    // statement for a streaming-grown index
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables(spark, sf, "documents")
    def side(rem: Int) = docs.filter(col("doc_id") % 3 === rem)
    def rowsOf(rem: Int): Seq[(Long, String)] = side(rem)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val idx = java.nio.file.Files.createTempDirectory("graft-stream-bm25")
      .resolve("idx").toString
    graft.stream.IndexIngest.bootstrap(IndexFamily.Bm25, idx, side(1))
    val src = MemoryStream[(Long, String)]
    val q = src.toDS().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(
        graft.stream.IndexIngest.appendSink(IndexFamily.Bm25, idx, DefaultApp) _)
      .start()
    try {
      src.addData(rowsOf(2)); q.processAllAvailable()
      src.addData(rowsOf(0)); q.processAllAvailable()
    } finally q.stop()
    // a replayed batch id is a no-op: still exactly 3 segments
    graft.stream.IndexIngest.appendSink(IndexFamily.Bm25, idx, DefaultApp)(
      rowsOf(0).toDF("doc_id", "text"), 1L)
    val segs = spark.read.parquet(s"$idx/postings")
      .select(col("seg")).distinct().collect().map(_.getString(0)).toSet
    assert(segs == Set("base", "b0", "b1"), s"segments: $segs")
    // the streamed 3-segment index answers exactly like the
    // from-scratch full-corpus index
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val want = rows(graft.llm.Retrieval.s10Bm25TopK(spark, sf))
    val got = rows(graft.llm.Retrieval.segmentedBm25Ranked(spark, sf, idx)
      .orderBy(col("query_id"), col("rn")))
    assert(got.nonEmpty)
    assert(got == want,
      "segment-merged scores must equal the single-index scores")
    // SEGMENT MERGE (the Lucene merge, no text re-read): the three
    // segments collapse into one with df recounted from the index's
    // own rows; the fingerprint survives (it names the indexed corpus,
    // not the layout), and the probe still answers exactly like s10
    val fpBefore = graft.io.ArtifactStore.currentFingerprint(idx)
    assert(graft.stream.IndexIngest.compact(IndexFamily.Bm25, spark, idx))
    val segsAfter = spark.read.parquet(s"$idx/postings")
      .select(col("seg")).distinct().collect().map(_.getString(0)).toSet
    assert(segsAfter == Set("base"), s"merged segments: $segsAfter")
    assert(graft.io.ArtifactStore.currentFingerprint(idx) == fpBefore,
      "a segment merge must not move the corpus fingerprint")
    val gotMerged = rows(
      graft.llm.Retrieval.segmentedBm25Ranked(spark, sf, idx)
        .orderBy(col("query_id"), col("rn")))
    assert(gotMerged == want, "the merged index must still equal s10")
  }

  test("streaming BM25 ingest: two lineages' batch 0 keep distinct segments and equal s10") {
    // two appIds (the multi-writer posture, or a query restarted under
    // a new appId after a lost checkpoint) each commit batch 0, and
    // both batches carry one term no other document has — local df 1
    // in each segment. The merged probe sums df over the distinct
    // (term, seg, df) rows, so a segment tag shared by the two batches
    // would count the term once and drift the scores from s10
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-stream-bm25-lineage")
    val dir = root.toString
    val term = "zqxlineageterm"
    Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .map { case (id, t) => (id, if (id == 107L || id == 207L) s"$t $term" else t) }
      .toSeq.toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val docs = Tables(spark, dir, "documents")
    def side(rem: Int) = docs.filter(col("doc_id") % 3 === rem)
    val idx = root.resolve("idx").toString
    graft.stream.IndexIngest.bootstrap(IndexFamily.Bm25, idx, side(1))
    graft.stream.IndexIngest.appendSink(IndexFamily.Bm25, idx, "appA")(side(2), 0L)
    graft.stream.IndexIngest.appendSink(IndexFamily.Bm25, idx, "appB")(side(0), 0L)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy(col("query_id"), col("rn")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val want = rows(graft.llm.Retrieval.s10Bm25TopK(spark, dir))
    assert(want.exists(r => r._1 == 107L && r._3 == 207L),
      "the shared term must put 207 in 107's served list")
    assert(rows(graft.llm.Retrieval.segmentedBm25Ranked(spark, dir, idx)) == want,
      "two lineages' batches must merge to the single-index scores")
  }

  test("streaming BM25 deletes: tombstone sink exactly-once, pre-merge " +
      "Lucene stats, merge recounts to the live-corpus index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables(spark, sf, "documents")
    val idx = java.nio.file.Files.createTempDirectory("graft-stream-bm25del")
      .resolve("idx").toString
    graft.stream.IndexIngest.bootstrap(IndexFamily.Bm25, idx,
      docs.select(col("doc_id"), col("text")))
    val delPred = col("doc_id") % graft.llm.Retrieval.DelMod ===
      graft.llm.Retrieval.DelRem
    val delIds = docs.filter(delPred)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq.sorted
    assert(delIds.nonEmpty)
    // two delete batches through a real streaming query, plus an
    // absent id in the first (ignored, mark advances)
    val (half1, half2) = delIds.partition(_ % 2 == 0)
    val src = MemoryStream[Long]
    val q = src.toDS().toDF("doc_id")
      .writeStream
      .foreachBatch(graft.stream.IndexIngest.deleteSink(IndexFamily.Bm25, idx) _)
      .start()
    try {
      src.addData(half1 :+ 99999L: _*); q.processAllAvailable()
      src.addData(half2: _*); q.processAllAvailable()
    } finally q.stop()
    // exactly-once: replaying a committed delete batch is a no-op
    val fpAfter = graft.io.ArtifactStore.currentFingerprint(idx)
    graft.stream.IndexIngest.deleteSink(IndexFamily.Bm25, idx)(
      half2.toDF("doc_id"), 1L)
    assert(graft.io.ArtifactStore.currentFingerprint(idx) == fpAfter)
    // the fingerprint moved to the LIVE membership: equal to a fresh
    // fingerprint over the surviving documents
    val (ln, lx) = graft.llm.IndexFamily.Bm25.parts(
      docs.filter(!delPred))
    assert(fpAfter.contains(graft.io.ArtifactStore.fingerprint(ln, lx)),
      "fingerprint must equal the live documents' fingerprint")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy(col("query_id"), col("rn")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // PRE-MERGE serving: tombstoned docs cut from candidates, stats
    // still counting them — must equal s33's batch operator (same
    // corpus, same delete set, independent artifact) row for row
    val preMerge = rows(
      graft.llm.Retrieval.segmentedBm25Ranked(spark, sf, idx))
    val s33 = rows(graft.llm.Retrieval.s33Bm25Delete(spark, sf))
    assert(preMerge.nonEmpty)
    assert(preMerge == s33,
      "streamed pre-merge serving must equal the s33 contract")
    // MERGE: deletes become physical, df/totals recount over the
    // live corpus, tombstones + dochash shrink; fingerprint unchanged
    assert(graft.stream.IndexIngest.compact(IndexFamily.Bm25, spark, idx))
    assert(graft.io.ArtifactStore.currentFingerprint(idx) == fpAfter,
      "physicalizing logical deletes must not move the fingerprint")
    assert(graft.stream.IndexIngest.tombstoneFiles(idx) == 0,
      "the merge must clear the tombstone set")
    val storedDocs = spark.read.parquet(s"$idx/postings")
      .select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(delIds.forall(!storedDocs.contains(_)),
      "merged postings must not contain deleted docs")
    val totals = spark.read.parquet(s"$idx/totals").collect()(0)
    assert(totals.getAs[Long]("n_docs") ==
      docs.filter(!delPred).count(),
      "merged totals must count live docs only")
    // the merged index answers exactly like a from-scratch index
    // bootstrapped over the LIVE corpus — stats drift fully repaired
    val idx2 = java.nio.file.Files
      .createTempDirectory("graft-stream-bm25del-clean")
      .resolve("idx").toString
    graft.stream.IndexIngest.bootstrap(IndexFamily.Bm25, idx2,
      docs.filter(!delPred).select(col("doc_id"), col("text")))
    assert(rows(graft.llm.Retrieval.segmentedBm25Ranked(spark, sf, idx)) ==
      rows(graft.llm.Retrieval.segmentedBm25Ranked(spark, sf, idx2)),
      "post-merge scores must equal the from-scratch live-corpus index")
  }

  test("streaming encode with the shipped tokenizer: batches equal t20, " +
      "OOV words take the learned merges, zero training on the stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // prime the shipped artifact (train-at-most-once), then stream
    graft.llm.Tokenizer.t19BpeMerges(spark, sf).collect()
    val t0 = graft.llm.Tokenizer.bpeVocab.builds.get()
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long)]
    val src = MemoryStream[(Long, String)]
    val q = src.toDS().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= graft.llm.Tokenizer.encodeDocs(batch, sf).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        ()
      }
      .start()
    val novel = "zzq zzq quux " + docs.head._2.split(" ").take(2).mkString(" ")
    try {
      src.addData(docs.filter(_._1 % 2 == 0)); q.processAllAvailable()
      src.addData(docs.filter(_._1 % 2 == 1)); q.processAllAvailable()
      // a third batch of NEVER-SEEN docs: OOV words must segment by
      // replaying the shipped merges, not by a lookup miss
      src.addData(Seq((900001L, novel))); q.processAllAvailable()
    } finally q.stop()
    // the streamed corpus batches answer exactly like batch t20
    val want = graft.llm.Tokenizer.t20BpeEncode(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.filter(_._1 < 900000L).toSet == want,
      "streamed per-batch encode must equal the batch operator")
    // the OOV doc: replay the contract driver-side on the SHIPPED
    // merge table (sentinel sym form, four replace passes per merge)
    val merges = graft.llm.Tokenizer.t19BpeMerges(spark, sf).collect()
      .map(r => (r.getAs[String]("pair"), r.getAs[String]("merged")))
    def tokensOf(w: String): Long =
      if (w.isEmpty) 0L
      else if (w.length == 1) 1L
      else {
        var sym = w.map(c => s" $c").mkString("") + " "
        sym = " " + sym.trim + " "
        for ((p, m) <- merges; _ <- 1 to graft.llm.Tokenizer.BpePasses)
          sym = sym.replace(s" $p ", s" $m ")
        sym.trim.split(" ").length.toLong
      }
    val expectedBpe = novel.split(" ", -1).map(tokensOf).sum
    val novelRow = got.find(_._1 == 900001L).get
    assert(novelRow._2 == novel.split(" ", -1).count(_.nonEmpty))
    assert(novelRow._3 == expectedBpe,
      s"OOV encode must replay the merge contract: got ${novelRow._3}, " +
        s"want $expectedBpe")
    // and no micro-batch ever trained: the tokenizer stayed shipped
    assert(graft.llm.Tokenizer.bpeVocab.builds.get() == t0,
      "streaming encode must never retrain the vocabulary")
  }

  test("bounded-horizon dedup (transformWithState): in-horizon drops, " +
    "horizon expiry re-admits, late rows filtered") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    import graft.stream.BoundedDedup
    val srcDir = Files.createTempDirectory("bdedup-src").toString
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    def stage(rows: Seq[(String, Long, java.sql.Timestamp)], tag: String): Unit = {
      val tmp = Files.createTempDirectory("bdedup-half").toString
      rows.toDF("digest", "docId", "ts")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(srcDir, s"$tag.parquet"))
    }
    // b1: two arrivals of digest A in one batch (tie broken by event
    // time then doc id) plus a first B
    stage(Seq(("A", 1L, ts(1000)), ("A", 2L, ts(1001)),
      ("B", 3L, ts(1002))), "b1")
    val schema = Seq(("A", 1L, ts(0)))
      .toDF("digest", "docId", "ts").schema
    // the v2 state API executes on the RocksDB provider only — scope it
    // to this query and restore whatever the session had
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(confKey)
    spark.conf.set(confKey, "org.apache.spark.sql.execution." +
      "streaming.state.RocksDBStateStoreProvider")
    try {
      val in = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .withWatermark("ts", "10 seconds")
        .as[BoundedDedup.DedupIn]
      // horizon H = 100 s of event time
      val out = BoundedDedup.dedupBounded(in.groupByKey(_.digest),
        horizonMs = 100000L)
      val q = out.toDF().writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("bounded_dedup").start()
      def rows(): Set[(Long, String, String)] =
        spark.table("bounded_dedup").collect().toSet
          .map((r: org.apache.spark.sql.Row) =>
            (r.getLong(0), r.getString(1), r.getString(2)))
      try {
        q.processAllAvailable()
        assert(rows() == Set(
          (1L, "A", BoundedDedup.Admitted),
          (2L, "A", BoundedDedup.DupInHorizon),
          (3L, "B", BoundedDedup.Admitted)), s"b1 dispositions: ${rows()}")
        // b2: re-arrival of A inside the horizon (1010 < 1000+100)
        stage(Seq(("A", 4L, ts(1010))), "b2")
        q.processAllAvailable()
        assert(rows().contains((4L, "A", BoundedDedup.DupInHorizon)))
        // b3 drags the max event time far past A's horizon close
        // (1100); b4's watermark (2000-10) then fires the expiry timers
        // AFTER b4's own input — so E still admits normally in b4
        stage(Seq(("D", 5L, ts(2000))), "b3")
        q.processAllAvailable()
        stage(Seq(("E", 6L, ts(2001))), "b4")
        q.processAllAvailable()
        // b5: A re-arrives past its horizon — state was cleared by the
        // timer, so it RE-ADMITS: the bounded-retention trade, proven
        stage(Seq(("A", 7L, ts(2050))), "b5")
        q.processAllAvailable()
        val afterReadmit = rows()
        assert(afterReadmit.contains((7L, "A", BoundedDedup.Admitted)),
          s"past-horizon re-arrival must re-admit: $afterReadmit")
        assert(afterReadmit.map(_._1) ==
          Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
        // b6: a row below the watermark (1980 < 2050-10) is dropped by
        // the standard pre-operator late filter — no disposition at all
        stage(Seq(("B", 8L, ts(1980))), "b6")
        q.processAllAvailable()
        assert(rows() == afterReadmit,
          s"beyond-watermark row must drop: ${rows().diff(afterReadmit)}")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    }
  }

  test("bounded streaming LSH: in-horizon pairs equal the batch banding") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    import graft.stream.BoundedStreamDedup
    // the documents fixture delivered as two micro-batches, every doc
    // stamped inside ONE horizon: the bounded operator must then equal
    // the batch operator's candidate set exactly — same parity the
    // unbounded test pins, now through the timer-bearing state
    val srcDir = Files.createTempDirectory("blsh-src").toString
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    def stage(half: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("blsh-half").toString
      half.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(srcDir, name))
    }
    val stamped = docs.withColumn("ts",
      lit(new java.sql.Timestamp(1000_000L)))
    stage(stamped.filter(col("doc_id") % 2 === 0), "part-0.parquet")
    stage(stamped.filter(col("doc_id") % 2 === 1), "part-1.parquet")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("ts", TimestampType)))
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(confKey)
    spark.conf.set(confKey, "org.apache.spark.sql.execution." +
      "streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
        .withWatermark("ts", "10 seconds")
      val banded = graft.llm.Dedup.bandedDocsWithTs(stream)
        .select(col("doc_id").as("docId"),
          col("band").cast(IntegerType).as("band"),
          col("bucket"), col("ts"))
        .as[BoundedStreamDedup.BandedIn]
      val pairs = graft.stream.BoundedStreamDedup.lshCandidatePairsBounded(
        banded.groupByKey(r => (r.band, r.bucket)), horizonMs = 3600_000L)
      val q = pairs.toDF("doc_a", "doc_b")
        .writeStream.outputMode("append")
        .format("memory").queryName("blsh_parity").start()
      try {
        q.processAllAvailable()
        val streamed = spark.table("blsh_parity").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val batch = graft.llm.Dedup
          .lshCandidates(graft.llm.Dedup.shingledFrame(docs), 64).collect()
          .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
        assert(streamed === batch,
          s"extra=${(streamed -- batch).take(3)} " +
            s"missing=${(batch -- streamed).take(3)}")
        assert(batch.nonEmpty)
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    }
  }

  test("bounded streaming LSH: horizon expiry forgets, re-admission restarts") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    import graft.stream.BoundedStreamDedup
    val srcDir = Files.createTempDirectory("blsh2-src").toString
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // near-dup text (identical ⇒ one shared bucket per band) vs two
    // unrelated texts that only exist to drag the watermark forward
    val text = (1 to 40).map(i => s"h${('a' + i % 26).toChar}z").mkString(" ")
    val other1 = (1 to 40).map(i => s"w${('a' + i % 7).toChar}q").mkString(" ")
    val other2 = (1 to 40).map(i => s"v${('a' + i % 5).toChar}k").mkString(" ")
    def stage(rows: Seq[(Long, String, java.sql.Timestamp)],
        tag: String): Unit = {
      val tmp = Files.createTempDirectory("blsh2-half").toString
      rows.toDF("doc_id", "text", "ts")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(srcDir, s"$tag.parquet"))
    }
    // b1: docs 1, 2 at t=1000/1010 (horizon H=100 s → expiries at
    // 1100/1110); b2: doc 3 at 1050 pairs with both
    stage(Seq((1L, text, ts(1000)), (2L, text, ts(1010))), "b1")
    stage(Seq((3L, text, ts(1050))), "b2")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("ts", TimestampType)))
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(confKey)
    spark.conf.set(confKey, "org.apache.spark.sql.execution." +
      "streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
        .withWatermark("ts", "10 seconds")
      val banded = graft.llm.Dedup.bandedDocsWithTs(stream)
        .select(col("doc_id").as("docId"),
          col("band").cast(IntegerType).as("band"),
          col("bucket"), col("ts"))
        .as[BoundedStreamDedup.BandedIn]
      val pairs = graft.stream.BoundedStreamDedup.lshCandidatePairsBounded(
        banded.groupByKey(r => (r.band, r.bucket)), horizonMs = 100_000L)
      val q = pairs.toDF("doc_a", "doc_b")
        .writeStream.outputMode("append")
        .format("memory").queryName("blsh_expiry").start()
      def got(): Seq[(Long, Long)] = spark.table("blsh_expiry").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      try {
        q.processAllAvailable()
        assert(got().toSet == Set((1L, 2L), (1L, 3L), (2L, 3L)),
          s"in-horizon cliques first: ${got().toSet}")
        // b3 drags event time past every expiry (wm after b3 = 1290);
        // b4 (other bucket) lets the expiry timers run — serviced
        // after that batch's input, exactly the BoundedDedup contract
        stage(Seq((9L, other1, ts(1300))), "b3")
        q.processAllAvailable()
        stage(Seq((10L, other2, ts(1301))), "b4")
        q.processAllAvailable()
        // b5/b6: docs 4, 5 re-open the SAME bucket past the horizon —
        // 4 admits with NO pairs (1/2/3 are forgotten: the explicit
        // trade), then 5 pairs with 4 only
        stage(Seq((4L, text, ts(1305))), "b5")
        q.processAllAvailable()
        stage(Seq((5L, text, ts(1310))), "b6")
        q.processAllAvailable()
        val all = got()
        assert(all.toSet == Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)),
          s"past-horizon arrivals must not pair with expired members: " +
            s"${all.toSet}")
        // per-band emission counts: 16 bands × (1+2 pairs) in-horizon,
        // 16 × 1 after re-admission — state really was pruned, not
        // filtered at emit (a filter would still re-emit on replay)
        assert(all.size == 64, s"emission count ${all.size} (want 64)")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    }
  }

  test("bounded streaming LSH: the horizon bound is symmetric — a late " +
      "out-of-order arrival does not pair past H") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    import graft.stream.BoundedStreamDedup
    // with a lateness tolerance LARGER than the horizon (1000 s vs
    // H = 100 s — a legitimate pairing: tolerate very late data, but
    // near-dup only within a tight window), an arrival OLDER than a
    // stored member survives the watermark filter; the emit check must
    // bound |t_a − t_b| < H in BOTH directions, not just "member no
    // older than arrival − H" (review-caught, pass 3)
    val srcDir = Files.createTempDirectory("blsh3-src").toString
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val text = (1 to 40).map(i => s"h${('a' + i % 26).toChar}z").mkString(" ")
    def stage(rows: Seq[(Long, String, java.sql.Timestamp)],
        tag: String): Unit = {
      val tmp = Files.createTempDirectory("blsh3-half").toString
      rows.toDF("doc_id", "text", "ts")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(srcDir, s"$tag.parquet"))
    }
    // b1: doc 1 at t=2000 admits; b2: doc 2 at t=1800 is 200 s older
    // than member 1 (> H) — must ADMIT but NOT pair; b3: doc 3 at
    // t=1805 pairs with doc 2 only (5 s), not with doc 1 (195 s)
    stage(Seq((1L, text, ts(2000))), "b1")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("ts", TimestampType)))
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(confKey)
    spark.conf.set(confKey, "org.apache.spark.sql.execution." +
      "streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
        .withWatermark("ts", "1000 seconds")
      val banded = graft.llm.Dedup.bandedDocsWithTs(stream)
        .select(col("doc_id").as("docId"),
          col("band").cast(IntegerType).as("band"),
          col("bucket"), col("ts"))
        .as[BoundedStreamDedup.BandedIn]
      val pairs = graft.stream.BoundedStreamDedup.lshCandidatePairsBounded(
        banded.groupByKey(r => (r.band, r.bucket)), horizonMs = 100_000L)
      val q = pairs.toDF("doc_a", "doc_b")
        .writeStream.outputMode("append")
        .format("memory").queryName("blsh_sym").start()
      try {
        q.processAllAvailable()
        stage(Seq((2L, text, ts(1800))), "b2")
        q.processAllAvailable()
        stage(Seq((3L, text, ts(1805))), "b3")
        q.processAllAvailable()
        val all = spark.table("blsh_sym").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(all.toSet == Set((2L, 3L)),
          s"only the |t|-within-H pair may emit: ${all.toSet}")
        assert(all.size == 16, // one per band, 2/3 share every bucket
          s"emission count ${all.size} (want 16)")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    }
  }

  test("streaming deletes: tombstone sink is exactly-once, serving excludes " +
      "immediately, compaction physicalizes, fingerprint tracks membership") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(7)
    def vec(): Seq[Float] = Seq.fill(8)(rnd.nextFloat() - 0.5f)
    val baseVecs = (0L until 40L).map(i => (i, vec()))
    val idx = java.nio.file.Files.createTempDirectory("graft-stream-del")
      .resolve("idx").toString
    graft.stream.IndexIngest.bootstrap(
      IndexFamily.Ivf, idx, baseVecs.toDF("vec_id", "embedding"))
    def storedIds(): Set[Long] = spark.read
      .schema(graft.llm.Similarity.invertedListSchema)
      .parquet(s"$idx/assignments")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    def liveIds(): Set[Long] = graft.llm.IndexDelete
      .liveListsAt(spark, idx)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    def fp(): String =
      graft.io.ArtifactStore.currentFingerprint(idx).get
    // the membership fingerprint a fresh build over `ids` would carry
    def fpOf(ids: Set[Long]): String = {
      val (n, x) = graft.llm.IndexFamily.Ivf.parts(
        baseVecs.filter(v => ids(v._1)).toDF("vec_id", "embedding"))
      graft.io.ArtifactStore.fingerprint(n, x)
    }
    assert(liveIds() == (0L until 40L).toSet)
    assert(fp() == fpOf((0L until 40L).toSet))

    // two delete batches through a real streaming query: batch 0 also
    // carries an ABSENT id (999 — ignored, Faiss remove_ids semantics)
    val src = MemoryStream[Long]
    val q = src.toDS().toDF("vec_id")
      .writeStream
      .foreachBatch(graft.stream.IndexIngest.deleteSink(IndexFamily.Ivf, idx) _)
      .start()
    try {
      src.addData(3L, 7L, 999L); q.processAllAvailable()
      assert(liveIds() == (0L until 40L).toSet -- Set(3L, 7L),
        "deletes must be live immediately")
      assert(storedIds() == (0L until 40L).toSet,
        "delete is a tombstone append — no data file rewritten")
      assert(fp() == fpOf((0L until 40L).toSet -- Set(3L, 7L)),
        "fingerprint must move to the post-delete membership")
      // batch 1: one already-tombstoned id (3 — must NOT xor back in)
      // and one new id
      src.addData(3L, 11L); q.processAllAvailable()
      assert(liveIds() == (0L until 40L).toSet -- Set(3L, 7L, 11L))
      assert(fp() == fpOf((0L until 40L).toSet -- Set(3L, 7L, 11L)),
        "re-deleting a tombstoned id must be a no-op in the fingerprint")
    } finally q.stop()
    val fpAfter = fp()

    // exactly-once: replaying a committed delete batch is a no-op
    graft.stream.IndexIngest.deleteSink(IndexFamily.Ivf, idx)(
      Seq(3L, 11L).toDF("vec_id"), 1L)
    assert(fp() == fpAfter, "replay must not re-apply")
    assert(liveIds() == (0L until 40L).toSet -- Set(3L, 7L, 11L))

    // an all-absent batch still advances the mark (and nothing else)
    graft.stream.IndexIngest.deleteSink(IndexFamily.Ivf, idx)(
      Seq(998L).toDF("vec_id"), 2L)
    assert(fp() == fpAfter)

    // the serve path drops tombstoned ids even while their code rows
    // linger: exact-refine inner-joins the live lists
    // (serveFrom is exercised by the gate tests; here the
    // probe contract via liveListsAt is what s32 serves from)

    // deletes alone trigger the compaction policy (tombstone files)
    assert(graft.stream.IndexIngest.tombstoneFiles(idx) >= 2)
    assert(graft.stream.IndexIngest.maybeCompact(IndexFamily.Ivf, spark, idx,
      maxFilesPerCell = 2), "tombstone accumulation must trigger")
    assert(storedIds() == (0L until 40L).toSet -- Set(3L, 7L, 11L),
      "compaction must physically drop tombstoned rows")
    assert(graft.stream.IndexIngest.tombstoneFiles(idx) == 0,
      "compaction must clear the tombstone set")
    assert(fp() == fpAfter,
      "physicalizing already-logical deletes must not move the fingerprint")
    assert(liveIds() == (0L until 40L).toSet -- Set(3L, 7L, 11L),
      "reader-visible membership is unchanged by compaction")
    assert(graft.io.ArtifactStore.currentFingerprint(idx).isDefined,
      "artifact must stay marker-valid after the delete lifecycle")

    // a LATER append continues from the same chain (delete then add)
    graft.stream.IndexIngest.appendSink(IndexFamily.Ivf, idx, DefaultApp)(
      Seq((100L, vec())).toDF("vec_id", "embedding"), 3L)
    assert(liveIds() == (0L until 40L).toSet -- Set(3L, 7L, 11L) + 100L)
  }
}
