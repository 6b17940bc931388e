package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDateTime, ZoneOffset}

import com.fasterxml.jackson.core.{JsonEncoding, JsonFactory, JsonFactoryBuilder, JsonGenerator, JsonParser, JsonProcessingException, JsonToken}
import com.fasterxml.jackson.core.json.JsonReadFeature
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Generator, GenericInternalRow, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BinaryType, DataType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** `json_tuple(value, "user_id", "emoji_type", "timestamp")` for the wire
  * envelope, read straight from the UTF-8 bytes: one row out per row in,
  * one string column per field. The input is a `string` or a Kafka
  * `binary` value.
  *
  * The rules are `json_tuple`'s: only a top-level object is read; the
  * last non-null occurrence of a key wins; a string yields its unescaped
  * text, `null` yields null, any other value its JSON text as Jackson
  * copies it; any `JsonProcessingException` nulls every field. The
  * parser comes from the same factory settings `json_tuple` uses.
  *
  * What it saves per row is `json_tuple`'s setup: an `InputStreamReader`
  * around the bytes, and a `ByteArrayOutputStream` plus a `JsonGenerator`
  * per extracted field. Here Jackson's byte parser reads the bytes in
  * place, and a string value is encoded to UTF-8 directly. Three cases
  * keep `json_tuple`'s own machinery, so their output is its output by
  * construction: bytes that are not valid UTF-8 or that Jackson's
  * encoding detection would not read as UTF-8 (a BOM, a zero in the first
  * two bytes) go through the same replacing `InputStreamReader`; a string
  * holding an unpaired surrogate (from a `\u` escape), and every
  * non-string value, are written by a generator exactly as `json_tuple`
  * writes them.
  *
  * A `Generator`, like `json_tuple`, so the optimizer cannot inline the
  * parse into the filters and projections that read its outputs: each
  * row is parsed once. Unlike `json_tuple` it generates code, so its
  * Generate runs inside the whole-stage codegen of the query around it. */
case class EnvelopeDecode(child: Expression) extends UnaryExpression with Generator {

  override def prettyName: String = "graft_envelope_decode"

  override def elementSchema: StructType =
    StructType(EnvelopeDecode.Fields.map(StructField(_, StringType, nullable = true)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string or binary input, got ${dt.catalogString}")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = rows(child.eval(input))

  /** The one output row for a wire value: null, a string or bytes. */
  def rows(value: Any): Iterator[InternalRow] = {
    val out = new Array[Any](EnvelopeDecode.Fields.length)
    value match {
      case null => ()
      case s: UTF8String =>
        val bb = s.getByteBuffer
        EnvelopeDecode.decode(bb.array, bb.arrayOffset + bb.position, bb.remaining, out)
      case b: Array[Byte] => EnvelopeDecode.decode(b, 0, b.length, out)
    }
    Iterator.single(new GenericInternalRow(out))
  }

  // GenerateExec iterates `value.iterator()` and reads the row's columns
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val in = child.genCode(ctx)
    val ref = ctx.addReferenceObj("envelopeDecode", this, classOf[EnvelopeDecode].getName)
    ev.copy(code = code"""
      |${in.code}
      |scala.collection.Iterator<InternalRow> ${ev.value} =
      |  $ref.rows(${in.isNull} ? null : ${in.value});
      """.stripMargin, isNull = FalseLiteral)
  }
}

object EnvelopeDecode {

  /** The envelope's fields, in output column order. */
  val Fields: Array[String] = Array("user_id", "emoji_type", "timestamp")

  /** `json_tuple`'s factory: Spark enables these two features for Hive
    * compatibility. */
  private val factory: JsonFactory = new JsonFactoryBuilder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
    .enable(JsonReadFeature.ALLOW_SINGLE_QUOTES)
    .build()

  /** The generator's output columns, named after [[Fields]]. */
  def decode(value: Column): Column =
    GraftColumnBridge.column(EnvelopeDecode(GraftColumnBridge.expression(value)))
      .as(Fields.toSeq)

  /** Fill `out` with the [[Fields]] of the JSON object in
    * `bytes[off, off+len)`. */
  private def decode(bytes: Array[Byte], off: Int, len: Int, out: Array[Any]): Unit =
    try {
      val p =
        if (readsAsUtf8(bytes, off, len)) factory.createParser(bytes, off, len)
        else factory.createParser(
          new InputStreamReader(new ByteArrayInputStream(bytes, off, len), UTF_8))
      try readObject(p, out) finally p.close()
    } catch {
      case _: JsonProcessingException =>
        java.util.Arrays.fill(out.asInstanceOf[Array[AnyRef]], null)
    }

  private def readObject(p: JsonParser, out: Array[Any]): Unit =
    if (p.nextToken() == JsonToken.START_OBJECT) {
      while (p.nextToken() != JsonToken.END_OBJECT) {
        if (p.currentToken() == JsonToken.FIELD_NAME) {
          val i = Fields.indexOf(p.currentName())
          if (i >= 0 && p.nextToken() != JsonToken.VALUE_NULL) out(i) = value(p)
        }
        p.skipChildren()
      }
    }

  /** The current value as `json_tuple` renders it. */
  private def value(p: JsonParser): UTF8String =
    if (p.currentToken() == JsonToken.VALUE_STRING) {
      if (p.hasTextCharacters) {
        val c = p.getTextCharacters
        val s = utf8(c, p.getTextOffset, p.getTextLength)
        if (s != null) s else generated(_.writeRaw(c, p.getTextOffset, p.getTextLength))
      } else {
        val t = p.getText
        val s = utf8(t.toCharArray, 0, t.length)
        if (s != null) s else generated(_.writeRaw(t))
      }
    } else generated(_.copyCurrentStructure(p))

  /** What `json_tuple` writes: the bytes of a fresh UTF-8 generator. */
  private def generated(write: JsonGenerator => Unit): UTF8String = {
    val bytes = new ByteArrayOutputStream()
    val g = factory.createGenerator(bytes, JsonEncoding.UTF8)
    try write(g) finally g.close()
    UTF8String.fromBytes(bytes.toByteArray)
  }

  /** UTF-8 of `c[off, off+len)`, or null if it holds an unpaired
    * surrogate. On well-formed UTF-16 the generator's raw write produces
    * exactly these bytes. */
  private def utf8(c: Array[Char], off: Int, len: Int): UTF8String = {
    val end = off + len
    var n = 0
    var i = off
    while (i < end) {
      val ch = c(i)
      if (ch < 0x80) n += 1
      else if (ch < 0x800) n += 2
      else if (Character.isHighSurrogate(ch)) {
        if (i + 1 == end || !Character.isLowSurrogate(c(i + 1))) return null
        n += 4
        i += 1
      } else if (Character.isLowSurrogate(ch)) return null
      else n += 3
      i += 1
    }
    val b = new Array[Byte](n)
    var o = 0
    i = off
    while (i < end) {
      val ch = c(i)
      if (ch < 0x80) { b(o) = ch.toByte; o += 1 }
      else if (ch < 0x800) {
        b(o) = (0xc0 | (ch >> 6)).toByte
        b(o + 1) = (0x80 | (ch & 0x3f)).toByte
        o += 2
      } else if (Character.isHighSurrogate(ch)) {
        val cp = Character.toCodePoint(ch, c(i + 1))
        b(o) = (0xf0 | (cp >> 18)).toByte
        b(o + 1) = (0x80 | ((cp >> 12) & 0x3f)).toByte
        b(o + 2) = (0x80 | ((cp >> 6) & 0x3f)).toByte
        b(o + 3) = (0x80 | (cp & 0x3f)).toByte
        o += 4
        i += 1
      } else {
        b(o) = (0xe0 | (ch >> 12)).toByte
        b(o + 1) = (0x80 | ((ch >> 6) & 0x3f)).toByte
        b(o + 2) = (0x80 | (ch & 0x3f)).toByte
        o += 3
      }
      i += 1
    }
    UTF8String.fromBytes(b)
  }

  /** True iff the byte parser reads these bytes as the JDK's UTF-8
    * decoder does: well-formed UTF-8 (no overlong form, no encoded
    * surrogate, nothing above U+10FFFF), no UTF-8 BOM, and no zero byte
    * among the first two (Jackson's encoding detection would take
    * either for UTF-16 or UTF-32). */
  private def readsAsUtf8(b: Array[Byte], off: Int, len: Int): Boolean = {
    if (len >= 1 && b(off) == 0) return false
    if (len >= 2 && b(off + 1) == 0) return false
    if (len >= 3 && (b(off) & 0xff) == 0xef && (b(off + 1) & 0xff) == 0xbb &&
      (b(off + 2) & 0xff) == 0xbf) return false
    val end = off + len
    var i = off
    while (i < end) {
      val c = b(i) & 0xff
      if (c < 0x80) i += 1
      else {
        def cont(k: Int): Boolean = i + k < end && (b(i + k) & 0xc0) == 0x80
        def at(k: Int): Int = b(i + k) & 0xff
        val n =
          if (c >= 0xc2 && c <= 0xdf) 2
          else if (c >= 0xe0 && c <= 0xef) 3
          else if (c >= 0xf0 && c <= 0xf4) 4
          else return false
        var k = 1
        while (k < n) { if (!cont(k)) return false; k += 1 }
        if (c == 0xe0 && at(1) < 0xa0) return false // overlong
        if (c == 0xed && at(1) > 0x9f) return false // surrogate
        if (c == 0xf0 && at(1) < 0x90) return false // overlong
        if (c == 0xf4 && at(1) > 0x8f) return false // above U+10FFFF
        i += n
      }
    }
    true
  }
}

/** The producers' two timestamp formats, parsed by arithmetic ahead of
  * [[graft.core.Ingest.lenientTimestamp]]'s formatter chain:
  *
  *  - `yyyy-MM-dd'T'HH:mm:ss.SSSSSS` (python `isoformat()`), read in the
  *    session time zone, a local time in a DST gap or overlap resolved as
  *    `ZonedDateTime.of` resolves it (the offset before the transition);
  *  - `yyyy-MM-dd'T'HH:mm:ss.SSS'Z'` (JS `toISOString()`), read as UTC.
  *
  * It answers only a string of exactly one of these shapes with ASCII
  * digits and a valid proleptic-Gregorian date and time (hour 00–23,
  * second 00–59), on which the chain's first matching formatter returns
  * the same instant; every other string reads as null, so the chain
  * behind it decides. */
case class ProducerTimestamp(child: Expression, timeZoneId: Option[String] = None)
  extends UnaryExpression with TimeZoneAwareExpression with ExpectsInputTypes {

  override def inputTypes: Seq[GraftColumnBridge.SqlAbstractDataType] = Seq(StringType)
  override def dataType: DataType = TimestampType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_producer_timestamp"

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Option(timeZoneId))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  /** The session zone's offset in seconds when it has only one, else
    * `Int.MinValue`. */
  @transient private lazy val fixedOffset: Int = {
    val rules = zoneId.getRules
    if (rules.isFixedOffset) rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds
    else Int.MinValue
  }

  /** Microseconds since the epoch, or `Long.MinValue` for no answer. */
  def micros(s: UTF8String): Long = {
    val n = s.numBytes
    if (n == 26) {
      val local = ProducerTimestamp.localSeconds(s)
      val frac = ProducerTimestamp.digits(s, 20, 6)
      if (local == Long.MinValue || s.getByte(19) != '.' || frac < 0) Long.MinValue
      else {
        val offset =
          if (fixedOffset != Int.MinValue) fixedOffset
          else zoneId.getRules
            .getOffset(LocalDateTime.ofEpochSecond(local, 0, ZoneOffset.UTC)).getTotalSeconds
        (local - offset) * 1000000L + frac
      }
    } else if (n == 24) {
      val local = ProducerTimestamp.localSeconds(s)
      val frac = ProducerTimestamp.digits(s, 20, 3)
      if (local == Long.MinValue || s.getByte(19) != '.' || frac < 0 || s.getByte(23) != 'Z')
        Long.MinValue
      else local * 1000000L + frac * 1000L
    } else Long.MinValue
  }

  override def nullSafeEval(input: Any): Any = {
    val us = micros(input.asInstanceOf[UTF8String])
    if (us == Long.MinValue) null else us
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("producerTs", this, classOf[ProducerTimestamp].getName)
    nullSafeCodeGen(ctx, ev, s => s"""
       |${ev.value} = $ref.micros($s);
       |${ev.isNull} = ${ev.value} == java.lang.Long.MIN_VALUE;
     """.stripMargin)
  }
}

object ProducerTimestamp {

  /** `graft_producer_timestamp(ts)`: the instant, or null for the chain. */
  def parse(ts: Column): Column =
    GraftColumnBridge.column(ProducerTimestamp(GraftColumnBridge.expression(ts)))

  /** The value of the `n` ASCII digits at byte `at`, or -1. */
  private def digits(s: UTF8String, at: Int, n: Int): Int = {
    var v = 0
    var i = at
    while (i < at + n) {
      val d = s.getByte(i) - '0'
      if (d < 0 || d > 9) return -1
      v = v * 10 + d
      i += 1
    }
    v
  }

  /** Seconds from 1970-01-01T00:00 to the valid local date-time
    * `yyyy-MM-ddTHH:mm:ss` in bytes 0–18 of `s`, or `Long.MinValue`. */
  private def localSeconds(s: UTF8String): Long = {
    if (s.getByte(4) != '-' || s.getByte(7) != '-' || s.getByte(10) != 'T' ||
      s.getByte(13) != ':' || s.getByte(16) != ':') return Long.MinValue
    val y = digits(s, 0, 4)
    val m = digits(s, 5, 2)
    val d = digits(s, 8, 2)
    val hh = digits(s, 11, 2)
    val mm = digits(s, 14, 2)
    val ss = digits(s, 17, 2)
    if (y < 0 || m < 1 || m > 12 || d < 1 || d > monthLength(y, m) ||
      hh < 0 || hh > 23 || mm < 0 || mm > 59 || ss < 0 || ss > 59) return Long.MinValue
    epochDay(y, m, d) * 86400L + hh * 3600L + mm * 60L + ss
  }

  private def leap(y: Int): Boolean = (y % 4 == 0 && y % 100 != 0) || y % 400 == 0

  private def monthLength(y: Int, m: Int): Int = m match {
    case 2 => if (leap(y)) 29 else 28
    case 4 | 6 | 9 | 11 => 30
    case _ => 31
  }

  /** `LocalDate.of(y, m, d).toEpochDay` for a valid date with y ≥ 0. */
  private def epochDay(y: Int, m: Int, d: Int): Long = {
    var total = 365L * y + (y + 3) / 4 - (y + 99) / 100 + (y + 399) / 400
    total += (367 * m - 362) / 12 + d - 1
    if (m > 2) total -= (if (leap(y)) 1 else 2)
    total - 719528L
  }
}
