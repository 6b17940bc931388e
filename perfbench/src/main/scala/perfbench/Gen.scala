package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

import graft.core.Schemas

/** The seeded shape of the emoji traffic: how many users, how the
  * emoji mix is skewed, and what share of events arrive out of order,
  * late or with a field missing. Every share comes from the seed. */
final case class Mix(users: Int, emojiCum: Array[Double], oooFrac: Double,
                     lateFrac: Double, missingFrac: Double) {
  def emoji(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    var i = 0
    while (i < emojiCum.length - 1 && u >= emojiCum(i)) i += 1
    i
  }
}

object Mix {
  def apply(seed: Long): Mix = {
    val r = new SplittableRandom(seed * 7919L + 17L)
    // weights in [2, 5): the rarest emoji keeps at least 4% of the mix,
    // so every (window, emoji) count of a drained backlog stays above the
    // scaling threshold and is recoverable from `scaled_count`
    val w = Array.fill(Schemas.emojiVocab.size)(2.0 + 3.0 * r.nextDouble())
    val total = w.sum
    val cum = w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    Mix(users = 5000 + r.nextInt(45000),
      emojiCum = cum,
      oooFrac = 0.04 + 0.02 * r.nextDouble(),
      lateFrac = 0.008 + 0.004 * r.nextDouble(),
      missingFrac = 0.004 + 0.002 * r.nextDouble())
  }
}

/** Fast ISO-8601 microsecond timestamps (UTC), the producers' format
  * (`2024-11-19T12:34:56.789123`). The per-second prefix is cached. */
final class IsoMicros {
  private var cachedSec = Long.MinValue
  private var prefix = ""
  def apply(us: Long): String = {
    val sec = Math.floorDiv(us, 1000000L)
    if (sec != cachedSec) {
      cachedSec = sec
      prefix = java.time.LocalDateTime
        .ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC).toString match {
          case s if s.length == 16 => s + ":00" // LocalDateTime drops :00 seconds
          case s => s
        }
    }
    val frac = Math.floorMod(us, 1000000L)
    val f = frac.toString
    prefix + "." + ("000000".substring(f.length)) + f
  }
}

/** Writes newline-JSON envelope files into a drop directory, the way a
  * producer hands a batch to the topic: written under a hidden name,
  * then renamed into place so the file source never sees a partial file. */
final class EnvelopeWriter(drop: Path) {
  private val tmpDir = drop.resolve(".tmp")
  Files.createDirectories(tmpDir)
  private val iso = new IsoMicros
  private val emojis = Schemas.emojiVocab.toArray
  private val sb = new java.lang.StringBuilder(1 << 22)

  def line(user: Int, emoji: Int, tsUs: Long, missing: Int): Unit = {
    sb.append('{')
    var first = true
    def sep(): Unit = { if (!first) sb.append(','); first = false }
    if (missing != 0) { sep(); sb.append("\"user_id\":\"user-").append(user).append('"') }
    if (missing != 1) { sep(); sb.append("\"emoji_type\":\"").append(emojis(emoji)).append('"') }
    if (missing != 2) { sep(); sb.append("\"timestamp\":\"").append(iso(tsUs)).append('"') }
    sb.append("}\n")
  }

  /** Publish the buffered lines as `name`; returns the published path. */
  def publish(name: String): Path = {
    val tmp = tmpDir.resolve(name)
    Files.write(tmp, sb.toString.getBytes(UTF_8))
    sb.setLength(0)
    Files.move(tmp, drop.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }
}

/** Counts per (window start µs, emoji index): the generator's own tally,
  * against which delivered counts are checked. */
final class Tally {
  val counts = scala.collection.mutable.HashMap[(Long, Int), Long]()
  def add(tsUs: Long, emoji: Int): Unit = {
    val k = (Math.floorDiv(tsUs, 60000000L) * 60000000L, emoji)
    counts(k) = counts.getOrElse(k, 0L) + 1L
  }
  def total: Long = counts.values.sum
}

/** Seeded tables for the dashboard and tier workloads, fitted to the
  * shapes of the library's `events`, `documents` and `embeddings`
  * fixtures at sf0.1 (measured statistics in `perfbench/NOTES.md`). */
object Corpus {
  /** The fixture's 30-word vocabulary. Words are drawn uniformly, so
    * every word lands in ~78% of documents: long postings lists and
    * little for WAND to skip, as in the fixture. */
  val words: Array[String] = ("stream value spark data big small vector group slow table " +
    "key column scan order window hash merge row customer join fast filter a the line " +
    "part sort query batch agg").split(" ")
  /** The fixture's near-duplicates are another document plus this word. */
  val dupWord = "dup"
  /** The fixture's five event types, equally likely. */
  val eventTypes: Array[String] = Array("signup", "purchase", "view", "click", "error")

  final case class Event(eventId: Long, tsUs: Long, userId: Long, eventType: String, value: Double)

  /** `n` events spread uniformly over the 30 days from 2024-01-01 (the
    * fixture's ~2.3 events per minute at n = 100,000), from 1,500 users,
    * with values exponential around a mean of 50. */
  def events(seed: Long, n: Int): Array[Event] = {
    val r = new SplittableRandom(seed * 31L + 5L)
    val t0 = 1704067200000000L // 2024-01-01T00:00:00Z
    val spanUs = 30L * 24 * 3600 * 1000000L
    Array.tabulate(n) { i =>
      Event(i.toLong, t0 + (r.nextDouble() * spanUs).toLong, r.nextInt(1500).toLong,
        eventTypes(r.nextInt(eventTypes.length)),
        math.rint(-50.0 * math.log(1.0 - r.nextDouble()) * 100.0) / 100.0)
    }
  }

  /** `dup`: the document is a near-duplicate of another one. */
  final case class Doc(docId: Long, text: String, dup: Boolean)

  /** Documents of 10-100 words (uniform); 5% are near-duplicates: an
    * earlier document with `dupWord` appended. */
  def documents(seed: Long, n: Int): Array[Doc] = {
    val r = new SplittableRandom(seed * 131L + 7L)
    val out = new Array[Doc](n)
    var i = 0
    while (i < n) {
      val dup = i > 0 && r.nextInt(20) == 0
      val text =
        if (dup) out(r.nextInt(i)).text + " " + dupWord
        else Array.fill(10 + r.nextInt(91))(words(r.nextInt(words.length))).mkString(" ")
      out(i) = Doc(i.toLong, text, dup)
      i += 1
    }
    out
  }

  final case class Vec(vecId: Long, embedding: Array[Float], label: Int)

  /** Unit-length 64-d vectors in uniformly random directions, each with
    * one of 10 labels: the fixture's vectors are no closer to their own
    * label's centroid than random ones would be. */
  def embeddings(seed: Long, n: Int, dim: Int = 64, labels: Int = 10): Array[Vec] = {
    val r = new SplittableRandom(seed * 977L + 3L)
    Array.tabulate(n) { i =>
      val v = Array.fill(dim)(gauss(r))
      val norm = math.sqrt(v.map(x => x * x).sum)
      Vec(i.toLong, v.map(x => (x / norm).toFloat), r.nextInt(labels))
    }
  }

  private def gauss(r: SplittableRandom): Double = {
    val u1 = math.max(1e-12, r.nextDouble())
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * r.nextDouble())
  }
}
