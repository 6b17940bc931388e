package graft.stream

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState

import graft.core.{Ingest, WindowAgg}
import graft.ext.{Dedup, Text}

/** The flagship streaming pipeline — SURVEY.md §2.4 (W1-W8) — wiring the
  * same pure `Ingest`/`WindowAgg` transforms the batch oracle queries use.
  * Plan parity with `spark_consumer.py:19-53`:
  *
  * {{{
  * source (value json)            S4/S6
  *  → parse                       P1-P4 (+S1 validity filter)
  *  → withWatermark 1 minute      W1
  *  → groupBy(window 1m, emoji)   W2 + A1
  *  → count → scaled_count        P6
  *  → select(emoji, scaled, win)  P7
  * }}}
  */
object Pipeline {

  /** Parsed event as a typed row (the streaming state ops need a Dataset). */
  final case class PEvent(
      user_id: String,
      emoji_type: String,
      event_time: java.sql.Timestamp)

  final case class StreamConfig(
      watermarkDelay: String = "1 minute", // W1 (spark_consumer.py:38)
      wallClockFallback: Boolean = true)   // W8 (analytical_server.py:26-27)

  /** W2 (spark_consumer.py:41): the tumbling window every aggregate uses. */
  private val WindowLength = "1 minute"

  /** P1-P4 + S1 on the wire column: JSON envelope → (user_id, emoji_type,
    * event_time), invalid rows dropped (the reference 400s them). W8 wall
    * clock fallback for unparsable timestamps is on by default here — this
    * is the streaming path; batch oracle queries use the deterministic
    * null default instead. */
  def parse(wire: DataFrame, cfg: StreamConfig = StreamConfig()): DataFrame = {
    val fallback =
      if (cfg.wallClockFallback) Ingest.processingTimeFallback
      else lit(null).cast("timestamp")
    val (valid, _) = Ingest.validate(Ingest.parseEnvelope(wire, "value", fallback))
    valid.filter(col("event_time").isNotNull)
      .select(col("user_id"), col("emoji_type"), col("event_time"))
  }

  /** W1+W2+A1+P6+P7: the flagship windowed aggregate
    * (`spark_consumer.py:37-47`). Output column order matches the
    * reference's final projection. */
  def flagship(events: DataFrame, cfg: StreamConfig = StreamConfig()): DataFrame =
    events
      .withWatermark("event_time", cfg.watermarkDelay)
      .groupBy(window(col("event_time"), WindowLength), col("emoji_type"))
      .agg(count(lit(1)).as("count"))
      .select(
        col("emoji_type"),
        WindowAgg.scaledCount(col("count")).as("scaled_count"),
        col("window"))

  /** CDC latest-per-key compaction as a STREAMING aggregate — the
    * streaming twin of the batch `dedup_latest` operator, same
    * partial-aggregable `max(struct(ts, id, ...))` so per-key state is
    * ONE candidate row (the running winner), never a log of updates.
    * Complete output mode: the served table is the full compacted view
    * after every micro-batch — the CDC read-model shape. Unbounded
    * keyspace caveat as with any complete-mode agg: state is O(keys);
    * at 100 TB the per-key row is constant-size and the keyspace bound
    * is the same one the batch compaction carries. */
  def latestPerKeyStream(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
        col("value"))).as("last"))
      .select(col("user_id"),
        unix_micros(col("last.ts")).as("last_ts_us"),
        col("last.event_id").as("last_event_id"),
        col("last.event_type").as("last_type"),
        col("last.value").as("last_value"))

  /** The BOUNDED-STATE companion of [[latestPerKeyStream]]:
    * exactly-once-style ingest dedup with a state TTL via
    * `dropDuplicatesWithinWatermark` — the general-key sibling of the
    * envelope-stream [[dedupWithinWatermark]] below, parameterized on
    * key columns and event-time column so the CDC event log can dedup
    * on transport ids. Semantics trade, stated plainly:
    * the complete-mode aggregate above keeps the LATEST row per key with
    * state O(live keys) forever (the reference's own unbounded-state
    * quirk); this keeps the FIRST arrival per `keyCols` and EVICTS a
    * key's state once the event-time watermark passes `delay` beyond its
    * arrival — so a duplicate redelivered inside the horizon is dropped,
    * one redelivered after it is re-emitted. That is the standard
    * production contract for at-least-once transport dedup (the horizon
    * = the transport's max redelivery lag), and the state bound is
    * O(keys per horizon), independent of stream lifetime — the property
    * that makes it safe on unbounded keyspaces where the complete-mode
    * twin eventually OOMs. Append output mode; rows flow through
    * unchanged (this is a filter, not an aggregate). */
  def dedupKeysWithinWatermark(events: DataFrame, keyCols: Seq[String],
                               tsCol: String = "ts",
                               delay: String = "1 minute"): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  final case class Scd2Update(user_id: Long, event_type: String,
                              ts_us: Long, event_id: Long)
  final case class Scd2Version(user_id: Long, version: Long, event_type: String,
                               valid_from_us: Long, valid_to_us: Long,
                               is_current: Int)

  /** STREAMING SCD2 — the incremental twin of
    * [[graft.ext.Temporal.scd2History]]: per key the state is exactly
    * the OPEN version (attr, valid_from, version counter), and a
    * micro-batch emits a CLOSED version row the moment the tracked
    * attribute changes — append mode, so history rows are immutable
    * once emitted (the warehouse contract). Consecutive duplicates
    * collapse without emitting, same as the batch op; within-batch
    * arrival order is pinned by sorting each group's slice on
    * (ts, event_id), and cross-batch ordering is the source's
    * responsibility (the replay feeds global event-time order — late
    * data that would REWRITE closed history is exactly what SCD2
    * forbids, and belongs to the batch recompute path).
    * State is O(live keys) × fixed width; versions never accumulate in
    * state (only the open one lives there — the closed ones left as
    * output). */
  def scd2Stream(updates: DataFrame): Dataset[Scd2Version] = {
    import updates.sparkSession.implicits._
    updates
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .as[Scd2Update]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(String, Long, Long), Scd2Version](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[Scd2Update],
         state: GroupState[(String, Long, Long)]) =>
          var cur = state.getOption // (attr, fromUs, version)
          val out = Seq.newBuilder[Scd2Version]
          batch.toSeq.sortBy(u => (u.ts_us, u.event_id)).foreach { u =>
            cur match {
              case None =>
                cur = Some((u.event_type, u.ts_us, 1L))
              case Some((attr, from, v)) if attr != u.event_type =>
                out += Scd2Version(uid, v, attr, from, u.ts_us, 0)
                cur = Some((u.event_type, u.ts_us, v + 1))
              case _ => () // consecutive duplicate: collapse, no emit
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  /** A3 streaming twin: per-window global totals. */
  def minuteTotals(events: DataFrame, cfg: StreamConfig = StreamConfig()): DataFrame =
    events
      .withWatermark("event_time", cfg.watermarkDelay)
      .groupBy(window(col("event_time"), WindowLength))
      .agg(count(lit(1)).as("total_count"))

  /** Full wire→aggregate pipeline: [[parse]] then [[flagship]]. */
  def flagshipFromWire(wire: DataFrame, cfg: StreamConfig = StreamConfig()): DataFrame =
    flagship(parse(wire, cfg), cfg)

  /** Stream-stream interval join: correlate two parsed event streams by
    * user, pairing each left event with right events that follow it
    * within `within`. Both sides carry watermarks so the join state is
    * bounded — Spark buffers only events inside the watermark + interval
    * horizon. Append-mode output (the only mode stream-stream joins
    * support). */
  def correlate(left: DataFrame, right: DataFrame,
                within: String = "5 minutes",
                cfg: StreamConfig = StreamConfig()): DataFrame = {
    val l = left.withWatermark("event_time", cfg.watermarkDelay)
      .select(col("user_id"), col("emoji_type").as("l_emoji"),
        col("event_time").as("l_time"))
    val r = right.withWatermark("event_time", cfg.watermarkDelay)
      .select(col("user_id").as("r_user"), col("emoji_type").as("r_emoji"),
        col("event_time").as("r_time"))
    l.join(r,
      col("user_id") === col("r_user") &&
        col("r_time") > col("l_time") &&
        col("r_time") <= col("l_time") + expr(s"INTERVAL $within"))
      .select(col("user_id"), col("l_emoji"), col("r_emoji"),
        col("l_time"), col("r_time"))
  }

  /** Streaming exact dedup (SURVEY.md §7.4): drop events whose
    * (user_id, emoji_type, event_time) was already seen, with state bounded
    * by the watermark horizon — `dropDuplicatesWithinWatermark` evicts
    * dedup state once the watermark passes, so memory is O(events per
    * watermark window), not O(stream). The streaming twin of
    * `Dedup.exactGroups`. */
  def dedupWithinWatermark(events: DataFrame,
                           cfg: StreamConfig = StreamConfig()): DataFrame =
    events
      .withWatermark("event_time", cfg.watermarkDelay)
      .dropDuplicatesWithinWatermark("user_id", "emoji_type", "event_time")

  /** A banded SimHash row for the streaming near-dup state op. */
  final case class BandedDoc(doc_id: Long, simhash: Long, band: Int, bucket: Long)

  /** A flagged streaming near-duplicate: `doc_id` matched a previously
    * seen document `dup_of` within `hamming` bits. */
  final case class NearDupFlag(doc_id: Long, dup_of: Long, hamming: Int)

  /** Streaming NEAR-dup detection — the streaming twin of the batch
    * SimHash/LSH dedup path. Each incoming document's 64-bit SimHash is
    * split into 4 × 16-bit bands ([[Dedup.simhashBands]]); one
    * `flatMapGroupsWithState` group per (band, bucket) holds the
    * fingerprints seen in that bucket and flags any new doc within
    * `maxHamming` bits of one of them. Pigeonhole: fingerprints within
    * Hamming distance 3 share at least one of the 4 bands, so
    * bucket-local comparison finds every such pair without all-pairs
    * state (candidates beyond distance 3 are found only if a band
    * happens to collide — same recall contract as the batch path).
    *
    * Output is the FLAG side-stream (doc_id, dup_of, hamming) — what a
    * pipeline filters/anti-joins against; a doc matching in several
    * bands emits one row per matching band. "First doc wins" follows
    * arrival order (inherent to streaming dedup); within a micro-batch,
    * doc_id order makes the outcome deterministic for replays.
    *
    * State is bounded BY CONSTRUCTION: ≤ `maxPerBucket` most-recent
    * fingerprints per bucket × 4·2^16 possible buckets × 16 B — no
    * watermark needed, though the cap means very old fingerprints
    * eventually stop matching (the usual streaming-dedup trade-off).
    */
  def nearDupStream(docs: DataFrame, maxHamming: Int = 3,
                    maxPerBucket: Int = 64,
                    hashFn: Column => Column = Dedup.tokenHashes): Dataset[NearDupFlag] = {
    import docs.sparkSession.implicits._
    val banded = docs
      .select(col("doc_id"),
        Dedup.simhash64(hashFn(Text.tokens(col("text")))).as("simhash"))
      .select(col("doc_id"), col("simhash"),
        explode(Dedup.simhashBands(col("simhash"))).as("k"))
      .select(col("doc_id"), col("simhash"),
        col("k.band").as("band"), col("k.bucket").as("bucket"))
      .as[BandedDoc]
    banded
      .groupByKey(d => (d.band, d.bucket))
      .flatMapGroupsWithState[List[(Long, Long)], NearDupFlag](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (_: (Int, Long), batch: Iterator[BandedDoc],
         state: GroupState[List[(Long, Long)]]) =>
          var seen = state.getOption.getOrElse(Nil) // (doc_id, simhash), newest first
          val out = Seq.newBuilder[NearDupFlag]
          batch.toSeq.sortBy(_.doc_id).foreach { d =>
            seen.find { case (_, s) =>
              java.lang.Long.bitCount(s ^ d.simhash) <= maxHamming
            } match {
              case Some((origId, s)) =>
                out += NearDupFlag(d.doc_id, origId,
                  java.lang.Long.bitCount(s ^ d.simhash))
              case None =>
                seen = ((d.doc_id, d.simhash) :: seen).take(maxPerBucket)
            }
          }
          state.update(seen)
          out.result().iterator
      }
  }

  /** A scored document entering the streaming curation funnel. */
  final case class CurateRow(doc_id: Long, lang_pred: String, n_tokens: Long,
                             fp: String, hh: Long)

  /** A per-document routing decision from the streaming funnel. */
  final case class CurateDecision(doc_id: Long, decision: String)

  /** STREAMING curation funnel — the batch `corpus_curate` pipeline
    * (lang-ID gate → quality gate → exact dedup → deterministic hash
    * sample) over an unbounded document stream. The gates, fingerprint,
    * and sampling hash are the SAME expression trees as the
    * oracle-proved batch query; only the dedup decision is stateful: one
    * `flatMapGroupsWithState` group per fingerprint holds "a qualified
    * doc already claimed this content". Semantics difference vs batch,
    * inherent to streaming: the FIRST qualified arrival wins the dedup
    * (batch keeps the min doc_id); within a micro-batch, doc_id order
    * makes replays deterministic. A doc that wins its fingerprint but
    * fails the hash sample still claims the content (later copies are
    * `drop_dup`, exactly like batch, where the sample gate applies only
    * to the dedup winner).
    *
    * State is one boolean per DISTINCT fingerprint — O(unique content),
    * the canonical streaming-dedup cost; a deployment bounding the dedup
    * horizon swaps NoTimeout for event-time timeout, trading cross-epoch
    * dedup for eviction (same trade-off as
    * `dropDuplicatesWithinWatermark`). */
  def curateStream(docs: DataFrame, minTokens: Int = 10,
                   keepPct: Int = 50): Dataset[CurateDecision] = {
    import docs.sparkSession.implicits._
    val toks = Text.tokens(col("text"))
    val hh = pmod(
      conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10).cast("long"),
      lit(100))
    val scored = docs.select(
      col("doc_id"),
      Text.langId(toks).as("lang_pred"),
      size(toks).cast("long").as("n_tokens"),
      Text.fingerprint(toks).as("fp"),
      hh.as("hh")).as[CurateRow]
    scored
      .groupByKey(_.fp)
      .flatMapGroupsWithState[Boolean, CurateDecision](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (_: String, batch: Iterator[CurateRow], state: GroupState[Boolean]) =>
          var claimed = state.getOption.getOrElse(false)
          val out = batch.toSeq.sortBy(_.doc_id).map { d =>
            val decision =
              if (d.lang_pred == "und") "drop_lang"
              else if (d.n_tokens < minTokens) "drop_quality"
              else if (claimed) "drop_dup"
              else {
                claimed = true
                if (d.hh >= keepPct) "drop_sample" else "kept"
              }
            CurateDecision(d.doc_id, decision)
          }
          if (claimed) state.update(true)
          out.iterator
      }
  }

  /** W6 — the reference's late-data quirk (`analytical_server.py:33-39`),
    * OFF by default: its hand-rolled accumulator only rolls the "current
    * minute" forward, so an event whose minute is ≤ the last minute seen is
    * credited to the currently OPEN minute — never back-dated, never
    * dropped. Equivalently: each event's effective minute is the running
    * max of minute buckets in arrival order.
    *
    * Faithful twin: single-key `flatMapGroupsWithState` holding that
    * running max. The reference's accumulator is one Python thread; this
    * operator reproduces that single-writer semantics and therefore
    * serializes through one task ON PURPOSE — it exists for byte-parity
    * experiments, not the 100 TB path (which uses correct event-time
    * assignment: [[flagshipFromWire]] never applies it). Within a
    * micro-batch we approximate Kafka arrival order by event_time order
    * (the reference's producers emit in timestamp order).
    */
  def creditLateToOpenMinute(events: Dataset[PEvent]): Dataset[PEvent] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[Long, PEvent](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (_: Int, batch: Iterator[PEvent], state: GroupState[Long]) =>
          var openMinuteMs = state.getOption.getOrElse(Long.MinValue)
          val out = batch.toSeq.sortBy(_.event_time.getTime).map { e =>
            val minuteMs = e.event_time.getTime / 60000L * 60000L
            if (minuteMs > openMinuteMs) openMinuteMs = minuteMs
            e.copy(event_time = new java.sql.Timestamp(openMinuteMs))
          }
          if (openMinuteMs != Long.MinValue) state.update(openMinuteMs)
          out.iterator
      }
  }
}
