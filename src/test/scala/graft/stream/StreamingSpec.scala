package graft.stream

import java.time.Instant

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.stream.Pipeline.{PEvent, StreamConfig}

/** Streaming semantics — SURVEY.md §2.4 (W1-W9) and §2.5 (K1-K3) — via
  * MemoryStream micro-batches. These behaviors have no DuckDB oracle; this
  * suite IS their correctness gate (VERDICT r1 #1).
  *
  * Fixture clock: all events on 2024-11-19, UTC.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit private def sqlCtx: SQLContext = spark.sqlContext

  private def iso(hhmmss: String): String = s"2024-11-19T$hhmmss.000000"

  private def envelope(user: String, emoji: String, hhmmss: String): String =
    s"""{"user_id":"$user","emoji_type":"$emoji","timestamp":"${iso(hhmmss)}"}"""

  private def epochUs(hhmmss: String): Long =
    Instant.parse(s"2024-11-19T${hhmmss}Z").toEpochMilli * 1000L

  /** (emoji, scaled, window_start_us) rows of a flagship result table. */
  private def flagRows(name: String): Set[(String, Double, Long)] =
    spark.table(name)
      .select(col("emoji_type"), col("scaled_count"),
        unix_micros(col("window.start")).as("ws"))
      .as[(String, Double, Long)].collect().toSet

  test("W1-W4/K1 shape: flagship end-to-end in complete mode (MemoryStream → memory sink)") {
    val in = MemoryStream[String]
    val q = Sinks.memory(Pipeline.flagshipFromWire(in.toDF()), "fs_complete",
      OutputMode.Complete())
    try {
      in.addData(
        envelope("u1", "👍", "10:00:05"),
        envelope("u2", "👍", "10:00:35"),
        envelope("u3", "❤️", "10:00:59"),
        envelope("u4", "👍", "10:01:10"))
      q.processAllAvailable()
      flagRows("fs_complete") shouldBe Set(
        ("👍", 1.0, epochUs("10:00:00")),
        ("❤️", 1.0, epochUs("10:00:00")),
        ("👍", 1.0, epochUs("10:01:00")))
    } finally q.stop()
  }

  test("W7: open-window counts are readable in update mode (read-your-ingest)") {
    val in = MemoryStream[String]
    val q = Sinks.memory(Pipeline.flagshipFromWire(in.toDF()), "fs_update",
      OutputMode.Update())
    try {
      in.addData(envelope("u1", "🔥", "11:00:01"))
      q.processAllAvailable()
      // the 11:00 window is still open (nothing later arrived), yet visible:
      flagRows("fs_update") shouldBe Set(("🔥", 1.0, epochUs("11:00:00")))
    } finally q.stop()
  }

  test("W3: append mode emits a window only after the watermark passes its end") {
    val in = MemoryStream[String]
    val q = Sinks.memory(Pipeline.flagshipFromWire(in.toDF()), "fs_append",
      OutputMode.Append())
    try {
      in.addData(envelope("u1", "🎉", "12:00:10"))
      q.processAllAvailable()
      flagRows("fs_append") shouldBe Set.empty // window 12:00 still open
      // watermark: max event time - 1 min; 12:03 pushes it past 12:01
      in.addData(envelope("u2", "🎉", "12:03:00"))
      q.processAllAvailable()
      in.addData(envelope("u3", "🎉", "12:05:00")) // advance again to flush 12:03
      q.processAllAvailable()
      flagRows("fs_append") should contain(("🎉", 1.0, epochUs("12:00:00")))
    } finally q.stop()
  }

  test("W5: events later than the 1-minute watermark are dropped (update mode)") {
    val in = MemoryStream[String]
    val q = Sinks.memory(Pipeline.flagshipFromWire(in.toDF()), "fs_late",
      OutputMode.Update())
    try {
      in.addData(envelope("u1", "👍", "13:40:00"))
      q.processAllAvailable() // watermark now 13:39:00
      in.addData(envelope("u2", "👍", "13:20:00")) // > 1 min late
      q.processAllAvailable()
      flagRows("fs_late") shouldBe Set(("👍", 1.0, epochUs("13:40:00")))
    } finally q.stop()
  }

  test("W6 quirk ON: late event is credited to the open minute, not back-dated") {
    val in = MemoryStream[PEvent]
    val adjusted = Pipeline.creditLateToOpenMinute(in.toDS())
    val q = Sinks.memory(adjusted.toDF(), "w6_on", OutputMode.Append())
    try {
      in.addData(
        PEvent("u1", "👍", new java.sql.Timestamp(epochUs("14:00:30") / 1000)),
        PEvent("u2", "👍", new java.sql.Timestamp(epochUs("14:02:10") / 1000)))
      q.processAllAvailable()
      // late arrival in a later batch: minute 14:01 <= open minute 14:02
      in.addData(PEvent("u3", "👍", new java.sql.Timestamp(epochUs("14:01:05") / 1000)))
      q.processAllAvailable()
      val got = spark.table("w6_on")
        .select(col("user_id"), unix_micros(col("event_time")))
        .as[(String, Long)].collect().toSet
      got shouldBe Set(
        ("u1", epochUs("14:00:00")),  // first batch: own minutes (rolled forward)
        ("u2", epochUs("14:02:00")),
        ("u3", epochUs("14:02:00"))) // quirk: credited to the open minute
    } finally q.stop()
  }

  test("W6 quirk OFF (default): the same late event keeps its own minute") {
    val in = MemoryStream[String]
    val q = Sinks.memory(
      Pipeline.flagshipFromWire(in.toDF(), StreamConfig(watermarkDelay = "10 minutes")),
      "w6_off", OutputMode.Update())
    try {
      in.addData(envelope("u1", "👍", "15:00:30"), envelope("u2", "👍", "15:02:10"))
      q.processAllAvailable()
      in.addData(envelope("u3", "👍", "15:01:05")) // within watermark: back-dated correctly
      q.processAllAvailable()
      flagRows("w6_off") shouldBe Set(
        ("👍", 1.0, epochUs("15:00:00")),
        ("👍", 1.0, epochUs("15:01:00")),
        ("👍", 1.0, epochUs("15:02:00")))
    } finally q.stop()
  }

  test("W6 quirk: randomized batches match the hand-rolled accumulator model") {
    // model of analytical_server.py:33-39: per arrival, effective minute =
    // running max of minute buckets (within a batch, arrival ≈ time order)
    val rng = new scala.util.Random(99)
    val batches = Seq.fill(4)(Seq.fill(8) {
      val minute = 100 + rng.nextInt(10)
      val sec = rng.nextInt(60)
      (minute * 60L + sec) * 1000L // epoch millis
    }.sorted)
    var openMinuteMs = Long.MinValue
    val expected = batches.flatMap { b =>
      b.map { ms =>
        val minuteMs = ms / 60000L * 60000L
        if (minuteMs > openMinuteMs) openMinuteMs = minuteMs
        (ms, openMinuteMs)
      }
    }.groupBy(_._2).view.mapValues(_.size.toLong).toMap

    val in = MemoryStream[PEvent]
    val q = Sinks.memory(
      Pipeline.creditLateToOpenMinute(in.toDS()).toDF(), "w6_model", OutputMode.Append())
    try {
      batches.zipWithIndex.foreach { case (b, bi) =>
        in.addData(b.zipWithIndex.map { case (ms, i) =>
          PEvent(s"u$bi-$i", "👍", new java.sql.Timestamp(ms))
        })
        q.processAllAvailable()
      }
      val got = spark.table("w6_model")
        .select(unix_millis(col("event_time")))
        .as[Long].collect().toSeq
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      got shouldBe expected
    } finally q.stop()
  }

  test("K3: broadcast fan-out replicates every micro-batch to ALL subscribers") {
    val in = MemoryStream[String]
    val seen = Seq.fill(3)(mutable.Set.empty[String])
    val subs: Seq[(Long, DataFrame) => Unit] = seen.map { buf => (_: Long, b: DataFrame) =>
      buf.synchronized { buf ++= b.select("user_id").as[String].collect() }; ()
    }
    val q = Sinks.broadcast(Pipeline.parse(in.toDF()), subs)
      .queryName("k3").start()
    try {
      in.addData(envelope("a", "👍", "16:00:01"), envelope("b", "❤️", "16:00:02"))
      q.processAllAvailable()
      in.addData(envelope("c", "🔥", "16:00:03"))
      q.processAllAvailable()
      seen.foreach(buf => buf.synchronized(buf.toSet) shouldBe Set("a", "b", "c"))
    } finally q.stop()
  }

  test("S6: rate-source envelope generator produces parseable reference envelopes") {
    val fake = Seq((java.sql.Timestamp.from(Instant.parse("2024-11-19T17:00:00Z")), 7L))
      .toDF("timestamp", "value")
    val parsed = Pipeline.parse(Sources.envelopeFromRate(fake))
      .select(col("user_id"), col("emoji_type"), unix_micros(col("event_time")))
      .as[(String, String, Long)].collect()
    parsed should have length 1
    parsed(0)._1 shouldBe "user-7"
    graft.core.Schemas.emojiVocab should contain(parsed(0)._2)
    parsed(0)._3 shouldBe epochUs("17:00:00")
  }

  test("S4: kafkaValue casts the Kafka binary value column to the wire string") {
    val kafkaShaped = Seq(envelope("u1", "👍", "22:00:01").getBytes("UTF-8"))
      .toDF("value") // binary, as the kafka source delivers it
    val parsed = Pipeline.parse(Sources.kafkaValue(kafkaShaped))
      .select("user_id").as[String].collect()
    parsed shouldBe Array("u1")
  }

  test("S4 seam: flagship runs end-to-end over a STREAM with the exact Kafka schema") {
    // The connector jar is absent (next test pins that boundary), so this
    // seam is the strongest executable claim: a MemoryStream whose rows
    // carry the connector's exact 7-column schema, run through
    // kafkaValue → parse → watermark → windowed agg. If the jar ever
    // appears, swapping this source for kafkaReader(...).load() is the
    // ONLY change.
    val in = MemoryStream[KafkaSchemaRecord]
    in.toDF().schema.fieldNames.toSeq shouldBe
      Seq("key", "value", "topic", "partition", "offset", "timestamp", "timestampType")
    val q = Sinks.memory(
      Pipeline.flagshipFromWire(Sources.kafkaValue(in.toDF())),
      "fs_kafka_seam", OutputMode.Complete())
    def rec(off: Long, env: String) = KafkaSchemaRecord(
      key = null, value = env.getBytes("UTF-8"), topic = "emoji_topic",
      partition = 0, offset = off,
      timestamp = new java.sql.Timestamp(0L), timestampType = 0)
    try {
      in.addData(
        rec(0L, envelope("u1", "👍", "21:30:05")),
        rec(1L, envelope("u2", "👍", "21:30:40")))
      q.processAllAvailable()
      in.addData(rec(2L, envelope("u3", "❤️", "21:31:10"))) // second micro-batch
      q.processAllAvailable()
      flagRows("fs_kafka_seam") shouldBe Set(
        ("👍", 1.0, epochUs("21:30:00")),
        ("❤️", 1.0, epochUs("21:31:00")))
    } finally q.stop()
  }

  test("S2/S4: kafka reader builds with bounded-admission option without a broker") {
    noException should be thrownBy
      Sources.kafkaReader(spark, "localhost:9092", maxOffsetsPerTrigger = Some(10000L))
  }

  test("S4 boundary: .load() fails ONLY for the missing connector jar") {
    // The sandbox ships no spark-sql-kafka jar (verified: nowhere on the
    // filesystem) and dependency resolution is offline, so source-plan
    // construction cannot be exercised end-to-end here. This case pins the
    // exact boundary: .load() must fail at DATA SOURCE LOOKUP — not at
    // option validation or plan analysis. If a future environment ships
    // the connector, this test FAILS, flagging that it should be upgraded
    // to a real plan-level test (.load() + watermark + agg analysis).
    val ex = intercept[Exception] {
      Sources.kafkaReader(spark, "localhost:9092").load()
    }
    ex.getMessage.toLowerCase should include("kafka")
    ex.getMessage should (include("Failed to find") or include("DATA_SOURCE_NOT_FOUND"))
  }

  test("streaming exact dedup drops repeats across batches within the watermark") {
    val in = MemoryStream[String]
    val q = Sinks.memory(
      Pipeline.dedupWithinWatermark(Pipeline.parse(in.toDF())),
      "dedup_stream", OutputMode.Append())
    try {
      in.addData(
        envelope("u1", "👍", "19:00:01"),
        envelope("u1", "👍", "19:00:01"), // intra-batch dup
        envelope("u2", "❤️", "19:00:02"))
      q.processAllAvailable()
      in.addData(envelope("u1", "👍", "19:00:01")) // cross-batch dup
      q.processAllAvailable()
      spark.table("dedup_stream").count() shouldBe 2L
    } finally q.stop()
  }

  test("serve integration: streaming sink feeds the three JSON API shapes (W7 read-your-ingest)") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val in = MemoryStream[String]
    // raw per-(window,type) counts — the serve layer's input contract
    val agg = Pipeline.parse(in.toDF())
      .withWatermark("event_time", "1 minute")
      .groupBy(window(col("event_time"), "1 minute"), col("emoji_type"))
      .agg(count(lit(1)).as("count"))
    val q = Sinks.memory(agg, "serve_sink", OutputMode.Update())
    try {
      in.addData(
        envelope("u1", "👍", "20:00:05"),
        envelope("u2", "👍", "20:00:15"),
        envelope("u3", "❤️", "20:01:10")) // open minute, still visible (W7)
      q.processAllAvailable()
      val minuteCounts = graft.serve.TimeSeries.windowedToMinute(spark.table("serve_sink"))
      val emoji = JsonMethods.parse(graft.serve.TimeSeries.emojiDataJson(minuteCounts))
      val JArray(thumbs) = emoji \ "👍"
      thumbs.map(p => (p \ "count").values) shouldBe List(2L)
      val stats = JsonMethods.parse(graft.serve.TimeSeries.statsJson(minuteCounts))
      (stats \ "total_emojis").values shouldBe 3L
      (stats \ "emoji_breakdown" \ "❤️").values shouldBe 1L
    } finally q.stop()
  }

  test("serve integration: a re-read of the same sink frame sees a later batch (W7)") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val in = MemoryStream[String]
    val agg = Pipeline.parse(in.toDF())
      .withWatermark("event_time", "1 minute")
      .groupBy(window(col("event_time"), "1 minute"), col("emoji_type"))
      .agg(count(lit(1)).as("count"))
    val q = Sinks.memory(agg, "serve_sink_reread", OutputMode.Update())
    try {
      in.addData(envelope("u1", "👍", "20:00:05"), envelope("u2", "❤️", "20:01:10"))
      q.processAllAvailable()
      // one frame instance, read before and after the next batch: a
      // memory sink's table is never answered from a snapshot
      val minuteCounts = graft.serve.TimeSeries.windowedToMinute(spark.table("serve_sink_reread"))
      val JArray(thumbs1) =
        JsonMethods.parse(graft.serve.TimeSeries.emojiDataJson(minuteCounts)) \ "👍"
      thumbs1.map(p => (p \ "count").values) shouldBe List(1L)
      val stats1 = JsonMethods.parse(graft.serve.TimeSeries.statsJson(minuteCounts))
      (stats1 \ "total_emojis").values shouldBe 2L
      in.addData(envelope("u3", "👍", "20:00:40"), envelope("u4", "❤️", "20:01:20"))
      q.processAllAvailable()
      var emojiJson = ""
      jobsOf { emojiJson = graft.serve.TimeSeries.emojiDataJson(minuteCounts) } should be >= 1
      val JArray(thumbs) = JsonMethods.parse(emojiJson) \ "👍"
      thumbs.map(p => (p \ "count").values) shouldBe List(2L)
      var statsJson = ""
      jobsOf { statsJson = graft.serve.TimeSeries.statsJson(minuteCounts) } should be >= 1
      val stats2 = JsonMethods.parse(statsJson)
      (stats2 \ "total_emojis").values shouldBe 4L
      (stats2 \ "emoji_breakdown" \ "❤️").values shouldBe 2L
    } finally q.stop()
  }

  test("serve integration: an update-mode sink re-emitting a window counts it once") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val in = MemoryStream[String]
    val agg = Pipeline.parse(in.toDF())
      .withWatermark("event_time", "1 minute")
      .groupBy(window(col("event_time"), "1 minute"), col("emoji_type"))
      .agg(count(lit(1)).as("count"))
    val q = Sinks.memory(agg, "serve_sink_2b", OutputMode.Update())
    try {
      // two batches touch window 20:00, so the sink holds its row twice
      // (count 2, then 3)
      in.addData(envelope("u1", "👍", "20:00:05"), envelope("u2", "👍", "20:00:15"))
      q.processAllAvailable()
      in.addData(envelope("u3", "👍", "20:00:40"))
      q.processAllAvailable()
      val minuteCounts = graft.serve.TimeSeries.windowedToMinute(spark.table("serve_sink_2b"))
      val emoji = JsonMethods.parse(graft.serve.TimeSeries.emojiDataJson(minuteCounts))
      val JArray(thumbs) = emoji \ "👍"
      thumbs.map(p => (p \ "count").values) shouldBe List(3L)
      val stats = JsonMethods.parse(graft.serve.TimeSeries.statsJson(minuteCounts))
      (stats \ "total_emojis").values shouldBe 3L
    } finally q.stop()
  }

  test("file source + checkpoint: aggregation state survives stop/restart") {
    val inDir = java.nio.file.Files.createTempDirectory("graft-in").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft-ck").toString
    def drop(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(inDir, name),
        lines.mkString("\n").getBytes("UTF-8"))

    val outDir = java.nio.file.Files.createTempDirectory("graft-out").toString
    // raw per-window counts so the recovered state is directly observable;
    // append mode + file sink = the durable closed-window log
    def agg = Pipeline.parse(Sources.envelopeFiles(spark, inDir))
      .withWatermark("event_time", "1 minute")
      .groupBy(window(col("event_time"), "1 minute"), col("emoji_type"))
      .agg(count(lit(1)).as("n"))
    def startQuery() = Sinks.files(agg, outDir, ckDir).start()

    drop("batch1.json", Seq(
      envelope("u1", "👍", "21:00:05"),
      envelope("u2", "👍", "21:00:15")))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop() // 21:00 window still open

    // restart from the same checkpoint: only new files are read, and the
    // 21:00 window resumes at count 2 → 3 (the reference's in-memory
    // accumulator would restart at 1 here). Two more drops advance the
    // watermark past 21:01 so append emits the closed window.
    drop("batch2.json", Seq(envelope("u3", "👍", "21:00:45")))
    drop("batch3.json", Seq(envelope("u4", "👍", "21:03:00")))
    drop("batch4.json", Seq(envelope("u5", "👍", "21:05:00")))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val emitted = spark.read.parquet(outDir)
      .select(col("emoji_type"), col("n"), unix_micros(col("window.start")).as("ws"))
      .as[(String, Long, Long)].collect().toSet
    emitted should contain(("👍", 3L, epochUs("21:00:00")))
  }

  test("stream-static enrichment: parsed stream joins a broadcast dimension") {
    val dim = Seq(("👍", "positive"), ("❤️", "positive"), ("💔", "negative"))
      .toDF("emoji_type", "sentiment")
    val in = MemoryStream[String]
    val enriched = Pipeline.parse(in.toDF())
      .join(broadcast(dim), Seq("emoji_type"), "left")
      .withWatermark("event_time", "1 minute")
      .groupBy(window(col("event_time"), "1 minute"), col("sentiment"))
      .agg(count(lit(1)).as("n"))
    val q = Sinks.memory(enriched, "enrich", OutputMode.Update())
    try {
      in.addData(
        envelope("u1", "👍", "23:00:01"),
        envelope("u2", "❤️", "23:00:02"),
        envelope("u3", "💔", "23:00:03"),
        envelope("u4", "😂", "23:00:04")) // not in dim → null sentiment
      q.processAllAvailable()
      val got = spark.table("enrich")
        .select(col("sentiment"), col("n")).as[(Option[String], Long)]
        .collect().toSet
      got shouldBe Set((Some("positive"), 2L), (Some("negative"), 1L), (None, 1L))
    } finally q.stop()
  }

  test("RocksDB state store: flagship aggregation runs and answers identically") {
    // the off-heap state backend a 100 TB deployment would use (key count
    // >> executor heap); per-session conf picked up at query start
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[String]
    val q = Sinks.memory(Pipeline.flagshipFromWire(in.toDF()), "rocks",
      OutputMode.Update())
    try {
      in.addData(envelope("u1", "👍", "23:30:01"), envelope("u2", "👍", "23:30:31"))
      q.processAllAvailable()
      in.addData(envelope("u3", "👍", "23:30:45")) // same window: state read-modify-write
      q.processAllAvailable()
      flagRows("rocks") shouldBe Set(("👍", 1.0, epochUs("23:30:00")))
    } finally {
      q.stop()
      prev.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
    }
  }

  test("streaming near-dup: banded SimHash flags near-dups across batches, first doc wins") {
    val baseText =
      "spark table scan filter join group window agg sort merge shuffle " +
        "partition broadcast hash value column row batch stream state"
    val nearText = baseText.replace("shuffle", "exchange") // 1 token differs
    val unrelated =
      "quick brown fox jumps over lazy dog again and again with zeal " +
        "purple monkey dishwasher banana umbrella xylophone quartz vivid"
    val unrelated2 =
      "violet quasar nimbus kaleidoscope tangerine obelisk marzipan fjord " +
        "zephyr labyrinth crescendo bungalow sapphire meridian tundra echo"
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    // maxHamming 12 exercises the NEAR path (1-token change lands within
    // a few bits; DedupSpec pins these texts at <12 and ≥1 shared band)
    val q = Pipeline.nearDupStream(docs, maxHamming = 12)
      .writeStream.format("memory").queryName("neardup_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((1L, baseText), (3L, unrelated))
      q.processAllAvailable()
      // batch 2: a near-dup of doc 1 (one token changed), a normalized
      // exact dup of doc 1, and a fresh unrelated doc
      in.addData((4L, nearText), (5L, baseText.toUpperCase + "!!!"), (6L, unrelated2))
      q.processAllAvailable()
      val flags = spark.table("neardup_stream")
        .select(col("doc_id"), col("dup_of")).as[(Long, Long)]
        .collect().toSet
      flags.map(_._1) shouldBe Set(4L, 5L) // both dups flagged, 3/6 clean
      flags.map(_._2) shouldBe Set(1L)     // first-seen doc is the canonical
      val exact = spark.table("neardup_stream")
        .filter(col("doc_id") === 5L).select("hamming")
        .as[Int].collect().toSet
      exact shouldBe Set(0) // normalized exact dup: identical fingerprint
    } finally q.stop()
  }

  test("TTL dedup: in-horizon redelivery dropped by state, post-horizon re-accepted") {
    // round-9 verdict #5: the bounded-state companion of
    // latestPerKeyStream. Two properties only this spec can see:
    // (a) a duplicate key redelivered while its state lives is dropped
    //     even across micro-batches;
    // (b) once the event-time watermark passes delay beyond the key's
    //     arrival, its state is EVICTED and a fresh redelivery flows
    //     through again — the deliberate TTL trade that bounds state to
    //     O(keys per horizon) on unbounded keyspaces.
    def ts(hhmmss: String) = java.sql.Timestamp.from(Instant.parse(s"2024-11-19T${hhmmss}Z"))
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = Pipeline.dedupKeysWithinWatermark(
      in.toDF().toDF("event_id", "payload", "ts"),
      keyCols = Seq("event_id"), tsCol = "ts", delay = "10 seconds")
    val q = out.writeStream.format("memory").queryName("ttl_dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((1L, "orig", ts("10:00:00")), (2L, "orig", ts("10:00:01")))
      q.processAllAvailable() // watermark → 09:59:51
      // batch 2: in-horizon redelivery of key 1 (state alive) + a clock
      // advance that pushes the watermark past key 1's 10 s horizon
      in.addData((1L, "redelivered_early", ts("10:00:02")),
        (3L, "advance", ts("10:01:00")))
      q.processAllAvailable() // watermark → 10:00:50 ⇒ keys 1,2 evict
      // batch 3: post-horizon redelivery of key 1 — state is gone, so it
      // re-emits (ts must sit above the watermark or it is late-dropped,
      // which would mask the eviction path under test)
      in.addData((1L, "redelivered_late", ts("10:01:05")))
      q.processAllAvailable()
      val got = spark.table("ttl_dedup")
        .select(col("event_id"), col("payload")).as[(Long, String)]
        .collect().toSeq.sorted
      got shouldBe Seq((1L, "orig"), (1L, "redelivered_late"),
        (2L, "orig"), (3L, "advance"))
    } finally q.stop()
  }

  test("streaming SCD2: version opened in one batch closes in a later one; duplicates collapse; version counter survives batches") {
    def ts(hhmmss: String) = java.sql.Timestamp.from(Instant.parse(s"2024-11-19T${hhmmss}Z"))
    def us(hhmmss: String) = Instant.parse(s"2024-11-19T${hhmmss}Z").toEpochMilli * 1000L
    val in = MemoryStream[(Long, String, java.sql.Timestamp, Long)]
    val out = Pipeline.scd2Stream(
      in.toDF().toDF("user_id", "event_type", "ts", "event_id"))
    val q = out.writeStream.format("memory").queryName("scd2_stream")
      .outputMode(OutputMode.Append()).start()
    def rows = spark.table("scd2_stream")
      .select(col("user_id"), col("version"), col("event_type"),
        col("valid_from_us"), col("valid_to_us"))
      .as[(Long, Long, String, Long, Long)].collect().toSeq.sorted
    try {
      // batch 1: user 1 opens version 1 = A (plus a collapsing duplicate)
      in.addData((1L, "A", ts("10:00:00"), 1L), (1L, "A", ts("10:00:05"), 2L))
      q.processAllAvailable()
      rows shouldBe Seq.empty // nothing closed yet — version 1 lives in state
      // batch 2: the change to B closes version 1 ACROSS the batch gap
      in.addData((1L, "B", ts("10:01:00"), 3L))
      q.processAllAvailable()
      rows shouldBe Seq((1L, 1L, "A", us("10:00:00"), us("10:01:00")))
      // batch 3: back to A — version counter continued from state (v2 closes)
      in.addData((1L, "A", ts("10:02:00"), 4L))
      q.processAllAvailable()
      rows shouldBe Seq(
        (1L, 1L, "A", us("10:00:00"), us("10:01:00")),
        (1L, 2L, "B", us("10:01:00"), us("10:02:00")))
    } finally q.stop()
  }

  test("streaming curation funnel: gates, cross-batch dedup, and hash sample route every doc") {
    // same portable hash as the batch funnel — used to pick planted ids
    // on each side of the 50% sample split instead of hardcoding
    def hh(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) % 100
    }
    val goodText = "der die das und ist ein zug der die das und ist ein haus"
    val keptId = (10L to 200L).find(hh(_) < 50).get
    val sampledOutId = (10L to 200L).find(i => hh(i) >= 50 && i != keptId).get
    val in = MemoryStream[(Long, String)]
    val q = Pipeline.curateStream(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("curate_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        (keptId, goodText),                      // de, long enough, wins fp, hh<50
        (1L, "zzz qqq xxx yyy www vvv uuu ttt sss rrr nnn mmm"), // no profile hit
        (2L, "der und ist"))                     // de but < 10 tokens
      q.processAllAvailable()
      // batch 2: a normalized exact dup of the batch-1 winner (case +
      // punctuation changes, same fingerprint) and a sampled-out doc
      in.addData(
        (keptId + 1000L, goodText.toUpperCase + "!!!"),
        (sampledOutId, "el los y que es un sol el los y que es un mar"))
      q.processAllAvailable()
      val got = spark.table("curate_stream")
        .as[(Long, String)].collect().toMap
      got(keptId) shouldBe "kept"
      got(1L) shouldBe "drop_lang"
      got(2L) shouldBe "drop_quality"
      got(keptId + 1000L) shouldBe "drop_dup" // first qualified arrival won
      got(sampledOutId) shouldBe "drop_sample"
    } finally q.stop()
  }

  test("RocksDB changelog checkpointing: state recovers from checkpoint across restart") {
    // changelog checkpointing ships per-batch deltas to the checkpoint
    // instead of full RocksDB snapshots — the commit-latency conf a large
    // stateful deployment runs with. The recovery assertion is the real
    // gate: after stop/restart, the open window resumes from the
    // changelog-restored state (2 → 3), not from scratch.
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val chgKey = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prevProv = spark.conf.getOption(provKey)
    val prevChg = spark.conf.getOption(chgKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(chgKey, "true")
    val inDir = java.nio.file.Files.createTempDirectory("graft-rocks-in").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft-rocks-ck").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-rocks-out").toString
    def drop(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(inDir, name),
        lines.mkString("\n").getBytes("UTF-8"))
    def agg = Pipeline.parse(Sources.envelopeFiles(spark, inDir))
      .withWatermark("event_time", "1 minute")
      .groupBy(window(col("event_time"), "1 minute"), col("emoji_type"))
      .agg(count(lit(1)).as("n"))
    def startQuery() = Sinks.files(agg, outDir, ckDir).start()
    try {
      drop("batch1.json", Seq(
        envelope("u1", "👍", "21:00:05"),
        envelope("u2", "👍", "21:00:15")))
      val q1 = startQuery()
      try q1.processAllAvailable() finally q1.stop() // 21:00 window still open
      drop("batch2.json", Seq(envelope("u3", "👍", "21:00:45")))
      drop("batch3.json", Seq(envelope("u4", "👍", "21:05:00"))) // advance watermark
      val q2 = startQuery()
      try q2.processAllAvailable() finally q2.stop()
      val emitted = spark.read.parquet(outDir)
        .select(col("emoji_type"), col("n"), unix_micros(col("window.start")).as("ws"))
        .as[(String, Long, Long)].collect().toSet
      emitted should contain(("👍", 3L, epochUs("21:00:00")))
    } finally {
      prevProv.fold(spark.conf.unset(provKey))(v => spark.conf.set(provKey, v))
      prevChg.fold(spark.conf.unset(chgKey))(v => spark.conf.set(chgKey, v))
    }
  }

  test("stream-stream interval join pairs events within the window, drops later ones") {
    val left = MemoryStream[String]
    val right = MemoryStream[String]
    val joined = Pipeline.correlate(
      Pipeline.parse(left.toDF()), Pipeline.parse(right.toDF()), within = "5 minutes")
    val q = joined.writeStream.format("memory").queryName("corr")
      .outputMode(OutputMode.Append()).start()
    try {
      left.addData(envelope("u1", "👍", "09:00:00"), envelope("u2", "👍", "09:00:00"))
      right.addData(
        envelope("u1", "💔", "09:03:00"),  // within 5 min → paired
        envelope("u2", "💔", "09:30:00"))  // 30 min later → outside interval
      q.processAllAvailable()
      val got = spark.table("corr")
        .select(col("user_id"), col("l_emoji"), col("r_emoji"))
        .as[(String, String, String)].collect().toSet
      got shouldBe Set(("u1", "👍", "💔"))
    } finally q.stop()
  }

  test("W9: graceful shutdown drains in-flight work before stopping") {
    val in = MemoryStream[String]
    val q = Sinks.memory(Pipeline.flagshipFromWire(in.toDF()), "w9", OutputMode.Update())
    in.addData(envelope("u1", "👍", "18:00:01"))
    Sinks.stopGracefully(q)
    q.isActive shouldBe false
    flagRows("w9") shouldBe Set(("👍", 1.0, epochUs("18:00:00")))
  }
}

/** The spark-sql-kafka source's exact row schema (field names, order, and
  * types), as documented for the connector — the S4 seam test streams
  * records of this shape through the full pipeline. */
final case class KafkaSchemaRecord(
    key: Array[Byte],
    value: Array[Byte],
    topic: String,
    partition: Int,
    offset: Long,
    timestamp: java.sql.Timestamp,
    timestampType: Int)
