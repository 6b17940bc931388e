package graft.core

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.ProducerTimestamp

/** P1-P4 + S1 (SURVEY.md §2.1-§2.2): envelope parse, lenient timestamp
  * formats actually emitted by the reference's producers (`client.py:50,111`,
  * `templates/index.html:203`, `emojitest.py:16`), validation split. */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  private def micros(ts: String): Option[Long] =
    Seq(ts).toDF("t")
      .select(unix_micros(Ingest.lenientTimestamp(col("t"))).as("us"))
      .collect()(0) match {
        case r if r.isNullAt(0) => None
        case r => Some(r.getLong(0))
      }

  test("P3: parses python isoformat with microseconds") {
    micros("2024-11-19T12:34:56.789123") shouldBe Some(1732019696789123L)
  }

  test("P3: parses JS toISOString with millis + Z") {
    micros("2024-11-19T12:34:56.789Z") shouldBe Some(1732019696789000L)
  }

  test("P3: parses second-granularity ISO") {
    micros("2024-11-19T12:34:56") shouldBe Some(1732019696000000L)
  }

  test("P4: unparsable timestamp -> null under the deterministic batch default") {
    micros("not-a-timestamp") shouldBe None
    micros("") shouldBe None
  }

  test("W8: unparsable timestamp -> wall clock when processingTimeFallback is passed") {
    val r = Seq("garbage").toDF("t")
      .select(Ingest.lenientTimestamp(col("t"), Ingest.processingTimeFallback).as("p"))
      .collect()(0)
    r.isNullAt(0) shouldBe false
  }

  test("P1+P2: parseEnvelope extracts the three wire fields and event_time") {
    val wire = Seq("""{"user_id":"u1","emoji_type":"👍","timestamp":"2024-11-19T12:34:56.789123"}""")
      .toDF("value")
    val out = Ingest.parseEnvelope(wire).collect()(0)
    out.getAs[String]("user_id") shouldBe "u1"
    out.getAs[String]("emoji_type") shouldBe "👍"
    out.getAs[java.sql.Timestamp]("event_time") should not be null
  }

  test("S1: validate splits rows missing any of the three fields to the reject side") {
    val wire = Seq(
      """{"user_id":"u1","emoji_type":"👍","timestamp":"2024-11-19T12:34:56.789123"}""",
      """{"user_id":"u2","timestamp":"2024-11-19T12:34:56.789123"}""",
      """{"emoji_type":"❤️","timestamp":"2024-11-19T12:34:56.789123"}""",
      "this is not json at all"
    ).toDF("value")
    val (valid, rejected) = Ingest.validate(Ingest.parseEnvelope(wire))
    valid.count() shouldBe 1L
    rejected.count() shouldBe 3L
    valid.collect()(0).getAs[String]("user_id") shouldBe "u1"
  }

  test("K2: toEnvelope serializes the parsed pipeline shape (event_time, no timestamp)") {
    val parsed = Seq(("u1", "👍", java.sql.Timestamp.from(
      java.time.Instant.parse("2024-11-19T12:34:56.789123Z"))))
      .toDF("user_id", "emoji_type", "event_time")
    val round = Ingest.parseEnvelope(Ingest.toEnvelope(parsed)).collect()(0)
    round.getAs[String]("user_id") shouldBe "u1"
    round.getAs[String]("timestamp") shouldBe "2024-11-19T12:34:56.789123"
  }

  test("K2: toEnvelope/parseEnvelope roundtrip preserves the wire fields") {
    val src = Seq(("u9", "🔥", "2024-11-19T12:34:56.789123"))
      .toDF("user_id", "emoji_type", "timestamp")
    val round = Ingest.parseEnvelope(Ingest.toEnvelope(src)).collect()(0)
    round.getAs[String]("user_id") shouldBe "u9"
    round.getAs[String]("emoji_type") shouldBe "🔥"
    round.getAs[String]("timestamp") shouldBe "2024-11-19T12:34:56.789123"
  }

  // ---- equivalence with the json_tuple + formatter-chain formulation ----

  private def fourColumns(df: DataFrame): Seq[Row] =
    df.select(col("user_id"), col("emoji_type"), col("timestamp"),
      unix_micros(col("event_time"))).collect().toSeq

  /** Both formulations over one wire frame, row by row, all four columns. */
  private def sameParse(wire: DataFrame): Unit = {
    val got = fourColumns(Ingest.parseEnvelope(wire))
    val want = fourColumns(IngestSpec.referenceParse(wire))
    got.size shouldBe want.size
    for ((g, w) <- got.zip(want)) g shouldBe w
  }

  /** Every wire input as a `string` value, a `binary` value, and the binary
    * cast to string (which keeps invalid UTF-8 bytes). */
  private def sameParseAllTypes(inputs: Seq[Array[Byte]], s: SparkSession = spark): Unit = {
    val bin = s.createDataFrame(inputs.map(Tuple1(_))).toDF("value")
    sameParse(bin)
    sameParse(bin.select(col("value").cast("string").as("value")))
    val valid = inputs.filter(b => java.util.Arrays.equals(new String(b, UTF_8).getBytes(UTF_8), b))
    sameParse(s.createDataFrame(valid.map(b => Tuple1(new String(b, UTF_8)))).toDF("value"))
  }

  private def bytes(s: String): Array[Byte] = s.getBytes(UTF_8)

  /** `bytes` with each `%u` written as a JSON unicode escape (backslash, u). */
  private def escaped(s: String): Array[Byte] = bytes(s.replace("%u", "\\u"))

  test("P2: the decoder equals json_tuple on missing fields and duplicate keys") {
    val ts = "\"timestamp\":\"2024-11-19T12:34:56.789123\""
    sameParseAllTypes(Seq(
      s"""{"user_id":"u1","emoji_type":"e",$ts}""",
      s"""{"emoji_type":"e",$ts}""",
      """{"user_id":"u1"}""",
      "{}",
      s"""{"user_id":null,"user_id":"u2","emoji_type":"e",$ts}""",
      s"""{"user_id":"u2","user_id":null,"emoji_type":"e",$ts}""",
      s"""{"user_id":"a","user_id":"b","emoji_type":"e",$ts,"timestamp":"x"}""",
      """{"user_id":null,"emoji_type":null,"timestamp":null}""",
      s"""{"other":{"user_id":"nested"},"user_id":"top",$ts}""",
      s"""{"USER_ID":"case","user_id ":"space",$ts}"""
    ).map(bytes))
  }

  test("P2: the decoder equals json_tuple on non-string values and \\u escapes") {
    sameParseAllTypes(Seq(
      """{"user_id":12,"emoji_type":true,"timestamp":false}""",
      """{"user_id":-2.50,"emoji_type":1e3,"timestamp":1.0E400}""",
      """{"user_id":123456789012345678901234567890,"emoji_type":-0.0,"timestamp":0}""",
      """{"user_id":{"a":[1,{"b":"c"}],"d":null},"emoji_type":[],"timestamp":{}}""",
      """{"user_id":["x","%ud83d%ude00",'q'],"emoji_type":{"k":"%u00e9\n"}}""",
      """{"user_id":"%u00e9%u4e2d%ud83d%ude00","emoji_type":"\"\\\/\b\f\n\r\t"}""",
      """{"user_id":"%ud83d","emoji_type":"ok"}""",
      """{"user_id":"ok","emoji_type":"%ude00"}""",
      """{"user_id":"x%ud83dy","emoji_type":"ok"}""",
      """{"user_id":"%udc00%udc01","emoji_type":"ok"}""",
      """{"user_id":"%ud83d%ud83d","emoji_type":"ok"}""",
      """{"user_id":"ok","emoji_type":["%ud83d"]}""",
      """{"other":"%ud83d","user_id":"ok"}""",
      "{\"user_id\":\"👍❤️🔥\",\"emoji_type\":\"\u00e9\"}",
      s"""{"user_id":"${"ab👍" * 1500}","emoji_type":"${"x" * 2666}\\ud83d"}""",
      s"""{"user_id":"${"a" * 1999}\\ud83d\\ude00${"b" * 3000}"}""",
      s"""{"user_id":"${"a" * 7999}\\ud83d"}"""
    ).map(escaped))
  }

  test("P2: the decoder equals json_tuple on invalid UTF-8, quotes, control characters and garbage") {
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val pre = bytes("""{"user_id":"""")
    val post = bytes("""","emoji_type":"e"}""")
    def inString(xs: Int*): Array[Byte] = pre ++ b(xs: _*) ++ post
    sameParseAllTypes(Seq(
      inString(0xff), inString(0xc0, 0x80), inString(0xed, 0xa0, 0x80),
      inString(0xe2, 0x82), inString(0xf4, 0x90, 0x80, 0x80), inString(0xe0, 0x80, 0x80),
      inString(0xf0, 0x9f, 0x91, 0x8d), inString(0xc3, 0xa9), inString(0x80),
      bytes("""{"user_id":"a"}""") ++ b(0xff),
      b(0xef, 0xbb, 0xbf) ++ bytes("""{"user_id":"bom"}"""),
      b(0) ++ bytes("""{"user_id":"nul"}"""),
      bytes("{") ++ b(0) ++ bytes(""""user_id":"nul"}"""),
      bytes("""{"user_id":"a""") ++ b(0) ++ bytes("""b"}"""),
      """{"user_id":"u"}""".getBytes("UTF-16BE"),
      """{"user_id":"u"}""".getBytes("UTF-16LE"),
      bytes("""{'user_id':'single','emoji_type':"mixed"}"""),
      bytes("{\"user_id\":\"tab\there\u0001\u001f\",\"emoji_type\":\"line\nbreak\"}"),
      bytes("{\"user\u0001id\":\"x\",\"user_id\":\"ctl\"}"),
      bytes("""{"user_id":"u"} trailing garbage"""),
      bytes("""{"user_id":"u"}}"""),
      bytes("""{"user_id":"u"},{"user_id":"v"}"""),
      bytes("""{"user_id":"u","x":[1,2,}"""),
      bytes("""{"user_id":"u","x":tru}"""),
      bytes("""{"user_id":"u",}"""),
      bytes("""{"user_id":01}"""),
      bytes("""{user_id:"unquoted"}"""),
      bytes("""  {"user_id":"lead"}""")
    ))
  }

  test("P2: the decoder equals json_tuple on non-objects, truncation and empty input") {
    sameParseAllTypes(Seq(
      """[{"user_id":"u"}]""", """{"user_id":"u""", """{"user_id":""", """{"user_id"""",
      "{", "", " ", "\n\t ", "null", "\"str\"", "123", "true", "this is not json at all"
    ).map(bytes))
    sameParse(Seq[String](null).toDF("value"))
    sameParse(Seq[Array[Byte]](null).map(Tuple1(_)).toDF("value"))
  }

  test("P2: the decoder equals json_tuple on seeded random fragments and byte mutations") {
    val rnd = new scala.util.Random(20261019L)
    val frags = Seq("{", "}", "[", "]", ",", ":", "\"user_id\"", "'user_id'", "\"emoji_type\"",
      "\"timestamp\"", "\"x\"", "null", "true", "1", "-2.50", "1e400", "\"\\ud83d\"",
      "\"\\ude00\"", "\"👍\"", "\"a\\\"b\"", " ", "\u0001", "\"\\u00e9\"", "'v'",
      "\"2024-11-19T12:34:56.789123\"", "\"\\ud83d\\ude00\"", "\"\n\"", "{\"a\":[1,{\"b\":2}]}")
    val envelope = Seq("user_id", "emoji_type", "timestamp", "x")
    val values = Seq("\"u1\"", "null", "7", "\"👍\"", "{\"k\":[1]}", "'q'", "\"\\ud83d\"",
      "\"2024-11-19T12:34:56.789Z\"")
    val random = Seq.fill(600)((1 to 1 + rnd.nextInt(12)).map(_ => frags(rnd.nextInt(frags.size))).mkString)
    val objects = Seq.fill(600) {
      (1 to rnd.nextInt(6)).map { _ =>
        s""""${envelope(rnd.nextInt(envelope.size))}":${values(rnd.nextInt(values.size))}"""
      }.mkString("{", ",", "}")
    }
    val mutated = objects.take(400).map { o =>
      val b = bytes(o)
      if (b.nonEmpty) (1 to 1 + rnd.nextInt(3)).foreach(_ => b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte)
      b
    }
    val inputs = (random ++ objects).map(bytes) ++ mutated
    sameParseAllTypes(inputs)
    // the interpreted path: no whole-stage or expression codegen
    val interpreted = spark.newSession()
    interpreted.conf.set("spark.sql.codegen.wholeStage", "false")
    interpreted.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    sameParseAllTypes(inputs, interpreted)
  }

  /** The producer-format and edge-case timestamps the fast path must agree on. */
  private val timestampCases: Seq[String] = {
    val body = Seq(
      "2024-11-19T12:34:56", "2024-02-29T00:00:00", "2023-02-29T00:00:00",
      "2000-02-29T23:59:59", "1900-02-29T12:00:00", "2024-04-31T12:00:00",
      "2024-04-30T12:00:00", "2024-13-01T00:00:00", "2024-00-10T00:00:00",
      "2024-01-00T00:00:00", "2024-01-01T24:00:00", "2024-01-01T23:60:00",
      "2024-01-01T23:59:60", "2024-03-10T02:30:00", "2024-03-10T03:30:00",
      "2024-11-03T01:30:00", "2024-11-03T00:59:59", "0000-01-01T00:00:00",
      "0001-01-01T00:00:00", "0999-12-31T23:59:59", "1582-10-10T00:00:00",
      "1969-12-31T23:59:59", "1970-01-01T00:00:00", "9999-12-31T23:59:59",
      "2024-11-19t12:34:56", "2024-11-19 12:34:56", "２０２４-11-19T12:34:56",
      "٢٠٢٤-11-19T12:34:56", "2024-1-19T12:34:56")
    body.flatMap(b => Seq(s"$b.789123", s"$b.789Z", s"$b.789", s"$b.7Z", b, s"$b.789z",
      s"$b.789+05:45", s"$b.789123Z", s" $b.789123", s"$b.789123 ", s"$b.78912٣")) ++
      Seq("10000-01-01T00:00:00.000000", "+10000-01-01T00:00:00.000Z", "-0001-01-01T00:00:00.000000",
        "999-01-01T00:00:00.000000", "", "garbage", "2024-11-19T12:34:56.789123456",
        "2024-11-19T12:34:56.", "2024-11-19T12:34:56.ZZZZZZ", "2024-11-19T12:34:56.78Z9")
  }

  private def sameTimestamps(zone: String): Unit = {
    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", zone)
    import s.implicits._
    val rnd = new scala.util.Random(zone.hashCode.toLong)
    val random = Seq.fill(2000) {
      val sec = rnd.nextLong(253402300800L + 62167219200L) - 62167219200L // years 0000–9999
      val ldt = java.time.LocalDateTime.ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC)
      val iso = f"${ldt.getYear}%04d-${ldt.getMonthValue}%02d-${ldt.getDayOfMonth}%02d" +
        f"T${ldt.getHour}%02d:${ldt.getMinute}%02d:${ldt.getSecond}%02d"
      if (rnd.nextBoolean()) f"$iso.${rnd.nextInt(1000000)}%06d" else f"$iso.${rnd.nextInt(1000)}%03dZ"
    }
    val df = (timestampCases ++ random).toDF("t")
    val rows = df.select(
      unix_micros(Ingest.lenientTimestamp(col("t"))),
      unix_micros(IngestSpec.referenceTimestamp(col("t"))),
      unix_micros(ProducerTimestamp.parse(col("t"))),
      col("t")).collect()
    for (r <- rows) withClue(s"$zone '${r.getString(3)}': ") {
      Option(r.get(0)) shouldBe Option(r.get(1))
      if (!r.isNullAt(2)) r.get(2) shouldBe r.get(1)
    }
    // the arithmetic path answers every producer-format string it was given
    rows.count(r => !r.isNullAt(2)) should be >= random.size
  }

  test("P3: the timestamp equals the formatter chain in UTC") { sameTimestamps("UTC") }

  test("P3: the timestamp equals the formatter chain in America/Los_Angeles (DST gap and overlap)") {
    sameTimestamps("America/Los_Angeles")
  }

  test("P3: the timestamp equals the formatter chain at +05:45") { sameTimestamps("+05:45") }

  test("P3: parseEnvelope equals the reference in a non-UTC session zone") {
    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    val wire = s.createDataFrame(Seq(
      """{"user_id":"u","emoji_type":"e","timestamp":"2024-03-10T02:30:00.000001"}""",
      """{"user_id":"u","emoji_type":"e","timestamp":"2024-11-03T01:30:00.500000"}""",
      """{"user_id":"u","emoji_type":"e","timestamp":"2024-11-03T01:30:00.500Z"}""",
      """{"user_id":"u","emoji_type":"e","timestamp":"2024-11-03 01:30:00"}"""
    ).map(Tuple1(_))).toDF("value")
    sameParse(wire)
  }
}

object IngestSpec {

  /** The parse as `json_tuple` and a three-formatter chain: the reference
    * the native decoder and the arithmetic timestamp must equal. */
  def referenceParse(raw: DataFrame, valueCol: String = "value",
                     fallback: Column = lit(null).cast("timestamp")): DataFrame =
    raw
      .select(json_tuple(col(valueCol).cast("string"),
        "user_id", "emoji_type", "timestamp").as(Seq("user_id", "emoji_type", "timestamp")))
      .withColumn("event_time", referenceTimestamp(col("timestamp"), fallback))

  def referenceTimestamp(ts: Column, fallback: Column = lit(null).cast("timestamp")): Column =
    coalesce(
      try_to_timestamp(ts, lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")),
      try_to_timestamp(ts, lit("yyyy-MM-dd'T'HH:mm:ss.SSSX")),
      try_to_timestamp(ts),
      fallback)
}
