package graft.serve

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkSpec
import graft.core.{Tables, WindowAgg}

/** Payload-shape parity with the reference's three JSON endpoints
  * (`analytical_server.py:67-109`), asserted on parsed JSON, plus
  * byte-exact pins of the documents, a guard on the jobs a read runs,
  * and the snapshot rule for frames over files. */
class TimeSeriesSpec extends SparkSpec {

  // minute 100: a×2, b×1; minute 101: a×1  (epoch-seconds fixture)
  private def counts = {
    val df = eventsDf(Seq(
      (6000L, "a"), (6010L, "a"), (6020L, "b"),
      (6060L, "a")))
    WindowAgg.minuteTypeCounts(df, "event_type")
      .withColumnRenamed("event_type", "emoji_type")
  }

  private def totals = {
    val df = eventsDf(Seq((6000L, "a"), (6010L, "a"), (6020L, "b"), (6060L, "a")))
    WindowAgg.minuteTotals(df)
  }

  private val m100 = "1970-01-01T01:40:00"
  private val m101 = "1970-01-01T01:41:00"

  test("emoji-data: {emoji: [{timestamp, count}…]} with series in time order") {
    val json = JsonMethods.parse(TimeSeries.emojiDataJson(counts))
    val JObject(fields) = json
    fields.map(_._1).toSet shouldBe Set("a", "b")
    val JArray(aSeries) = json \ "a"
    aSeries.map(p => ((p \ "timestamp").values, (p \ "count").values)) shouldBe
      List((m100, 2L), (m101, 1L))
    val JArray(bSeries) = json \ "b"
    bSeries.map(p => ((p \ "timestamp").values, (p \ "count").values)) shouldBe
      List((m100, 1L))
  }

  test("total-data: [{timestamp, count}…] in time order") {
    val json = JsonMethods.parse(TimeSeries.totalDataJson(totals))
    val JArray(series) = json
    series.map(p => ((p \ "timestamp").values, (p \ "count").values)) shouldBe
      List((m100, 3L), (m101, 1L))
  }

  test("stats: {total_emojis, emoji_breakdown, window_minutes}") {
    val json = JsonMethods.parse(TimeSeries.statsJson(counts))
    (json \ "total_emojis").values shouldBe 4L
    (json \ "window_minutes").values shouldBe 3L
    (json \ "emoji_breakdown" \ "a").values shouldBe 3L
    (json \ "emoji_breakdown" \ "b").values shouldBe 1L
  }

  test("windowedToMinute adapts a streaming window-struct aggregate") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val w = eventsDf(Seq((6000L, "a"), (6020L, "a")))
      .withColumnRenamed("event_type", "emoji_type")
      .groupBy(window(col("ts"), "1 minute"), col("emoji_type"))
      .agg(count(lit(1)).as("count"))
    val json = JsonMethods.parse(TimeSeries.emojiDataJson(TimeSeries.windowedToMinute(w)))
    val JArray(s) = json \ "a"
    s.map(p => (p \ "count").values) shouldBe List(2L)
  }

  // Minute-grain frames built directly, so one series can hold two
  // points with the same timestamp. The keys cover non-ASCII emoji (U+2764
  // carries its variation selector U+FE0F), a pair whose UTF-16 and UTF-8
  // orders differ (U+FF5A sorts after U+1F600 in UTF-16, before it in
  // UTF-8), JSON metacharacters and control characters.
  private def minuteCounts(rows: Seq[(Long, String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("secs", "emoji_type", "cnt")
      .select(timestamp_seconds(col("secs")).as("minute"), col("emoji_type"), col("cnt"))
  }

  private def minuteTotals(rows: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("secs", "total_count")
      .select(timestamp_seconds(col("secs")).as("minute"), col("total_count"))
  }

  private val pinRows = Seq(
    (6000L, "\uD83D\uDC4D", 2L), (6060L, "\uD83D\uDC4D", 1L), (6000L, "\u2764\uFE0F", 3L),
    (6060L, "\uFF5A", 1L), (6000L, "\uD83D\uDE00", 4L), (6000L, "q\"b\\s", 5L),
    (6060L, "t\tn\n\u0001", 6L), (6120L, "a", 7L), (6120L, "a", 2L), (6060L, "a", 9L))

  test("emoji-data: byte-exact document, keys in UTF-8 order, equal timestamps by count") {
    TimeSeries.emojiDataJson(minuteCounts(pinRows)) shouldBe
      "{\"a\":[{\"timestamp\":\"1970-01-01T01:41:00\",\"count\":9}," +
      "{\"timestamp\":\"1970-01-01T01:42:00\",\"count\":2}," +
      "{\"timestamp\":\"1970-01-01T01:42:00\",\"count\":7}]," +
      "\"q\\\"b\\\\s\":[{\"timestamp\":\"1970-01-01T01:40:00\",\"count\":5}]," +
      "\"t\\tn\\n\\u0001\":[{\"timestamp\":\"1970-01-01T01:41:00\",\"count\":6}]," +
      "\"\u2764\uFE0F\":[{\"timestamp\":\"1970-01-01T01:40:00\",\"count\":3}]," +
      "\"\uFF5A\":[{\"timestamp\":\"1970-01-01T01:41:00\",\"count\":1}]," +
      "\"\uD83D\uDC4D\":[{\"timestamp\":\"1970-01-01T01:40:00\",\"count\":2}," +
      "{\"timestamp\":\"1970-01-01T01:41:00\",\"count\":1}]," +
      "\"\uD83D\uDE00\":[{\"timestamp\":\"1970-01-01T01:40:00\",\"count\":4}]}"
  }

  test("total-data: byte-exact document, equal timestamps by count") {
    TimeSeries.totalDataJson(minuteTotals(Seq((6060L, 5L), (6000L, 3L), (6060L, 1L)))) shouldBe
      "[{\"timestamp\":\"1970-01-01T01:40:00\",\"count\":3}," +
      "{\"timestamp\":\"1970-01-01T01:41:00\",\"count\":1}," +
      "{\"timestamp\":\"1970-01-01T01:41:00\",\"count\":5}]"
  }

  test("stats: byte-exact document, breakdown keys in UTF-8 order") {
    TimeSeries.statsJson(minuteCounts(pinRows)) shouldBe
      "{\"total_emojis\":40,\"emoji_breakdown\":{\"a\":18,\"q\\\"b\\\\s\":5," +
      "\"t\\tn\\n\\u0001\":6,\"\u2764\uFE0F\":3,\"\uFF5A\":1,\"\uD83D\uDC4D\":3," +
      "\"\uD83D\uDE00\":4},\"window_minutes\":3}"
  }

  test("empty frames: {}, [] and a zero total_emojis") {
    TimeSeries.emojiDataJson(minuteCounts(Seq.empty)) shouldBe "{}"
    TimeSeries.totalDataJson(minuteTotals(Seq.empty)) shouldBe "[]"
    // the reference's A5 sum over an empty window is 0, not absent
    TimeSeries.statsJson(minuteCounts(Seq.empty)) shouldBe
      "{\"total_emojis\":0,\"emoji_breakdown\":{},\"window_minutes\":3}"
  }

  test("a null key, minute or count fails the read") {
    val counts = minuteCounts(Seq((6000L, "a", 1L)))
    for (bad <- Seq(
        counts.withColumn("emoji_type", lit(null).cast("string")),
        counts.withColumn("minute", lit(null).cast("timestamp")),
        counts.withColumn("cnt", lit(null).cast("long"))))
      an[IllegalArgumentException] should be thrownBy TimeSeries.emojiDataJson(bad)
  }

  /** A retained events table in `dir` and its two count frames. */
  private def retainedFrames(dir: String): (DataFrame, DataFrame) = {
    val ret = WindowAgg.retained(Tables.events(spark, dir))
    (WindowAgg.minuteTypeCounts(ret, "event_type"), WindowAgg.minuteTotals(ret))
  }

  private def documents(counts: DataFrame, totals: DataFrame): Seq[String] = Seq(
    TimeSeries.emojiDataJson(counts, "event_type"), TimeSeries.totalDataJson(totals),
    TimeSeries.statsJson(counts, "event_type"))

  test("a dashboard read runs at most 2 jobs; building the retained frame runs 2") {
    // Building runs the max-minute aggregate once: its map stage and its
    // result stage are one job each under adaptive execution. The first
    // read of a frame collects the (minute, type) aggregate, the same two
    // jobs; every later read projects the snapshot of those rows, which
    // Spark folds into a local scan. A horizon resolved lazily, JSON
    // assembled in Catalyst, or a snapshot not kept shows up here as jobs.
    val dir = java.nio.file.Files.createTempDirectory("graft-ts-jobs").toString
    eventsDf((0L until 600L by 7L).map(s => (6000L + s, if (s % 2 == 0) "a" else "b")))
      .write.parquet(s"$dir/events.parquet")
    val events = Tables.events(spark, dir)
    var ret: DataFrame = null
    jobsOf { ret = WindowAgg.retained(events) } shouldBe 2
    val counts = WindowAgg.minuteTypeCounts(ret, "event_type")
    val totals = WindowAgg.minuteTotals(ret)
    jobsOf(TimeSeries.emojiDataJson(counts, "event_type")) should be <= 2
    jobsOf(TimeSeries.totalDataJson(totals)) should be <= 2
    for (_ <- 0 until 2) {
      jobsOf(TimeSeries.emojiDataJson(counts, "event_type")) shouldBe 0
      jobsOf(TimeSeries.totalDataJson(totals)) shouldBe 0
      jobsOf(TimeSeries.statsJson(counts, "event_type")) shouldBe 0
    }
  }

  test("a catalog table, or a subquery over one, is read afresh on every read") {
    val table = "ts_catalog_counts"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"CREATE TABLE $table (minute TIMESTAMP, emoji_type STRING, cnt BIGINT) USING parquet")
    try {
      def insert(secs: Long, cnt: Long): Unit =
        minuteCounts(Seq((secs, "a", cnt))).write.insertInto(table)
      insert(6000L, 2L)
      val direct = spark.table(table)
      minuteCounts(Seq((6000L, "a", 1L), (6060L, "a", 5L))).createOrReplaceTempView("ts_local_counts")
      val capped = spark.sql(
        s"SELECT * FROM ts_local_counts WHERE cnt <= (SELECT max(cnt) FROM $table)")
      def total(df: DataFrame) =
        (JsonMethods.parse(TimeSeries.statsJson(df)) \ "total_emojis").values
      (total(direct), total(capped)) shouldBe ((2L, 1L))
      insert(6060L, 7L)
      (total(direct), total(capped)) shouldBe ((9L, 6L))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("a built frame keeps answering from its file listing; a rebuilt frame sees new files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ts-snapshot").toString
    eventsDf(Seq((6000L, "a"), (6010L, "b"), (6060L, "a")))
      .write.parquet(s"$dir/events.parquet")
    val (counts, totals) = retainedFrames(dir)
    val before = documents(counts, totals)
    // a second file in the table, in the newest minute
    eventsDf(Seq((6070L, "a"), (6080L, "b")))
      .write.mode("append").parquet(s"$dir/events.parquet")
    documents(counts, totals) shouldBe before
    val (counts2, totals2) = retainedFrames(dir)
    documents(counts2, totals2) shouldBe Seq(
      "{\"a\":[{\"timestamp\":\"1970-01-01T01:40:00\",\"count\":1}," +
        "{\"timestamp\":\"1970-01-01T01:41:00\",\"count\":2}]," +
        "\"b\":[{\"timestamp\":\"1970-01-01T01:40:00\",\"count\":1}," +
        "{\"timestamp\":\"1970-01-01T01:41:00\",\"count\":1}]}",
      "[{\"timestamp\":\"1970-01-01T01:40:00\",\"count\":2}," +
        "{\"timestamp\":\"1970-01-01T01:41:00\",\"count\":3}]",
      "{\"total_emojis\":5,\"emoji_breakdown\":{\"a\":3,\"b\":2},\"window_minutes\":3}")
  }
}
