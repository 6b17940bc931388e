package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamReader

import graft.core.Schemas

/** Streaming sources — SURVEY.md §2.1 (S2, S4-S6).
  *
  * All sources produce the same wire shape the reference puts on Kafka: a
  * single string column `value` holding the JSON envelope
  * `{user_id, emoji_type, timestamp}` (`api_server.py:13`). Downstream
  * (`Pipeline.parse`) is therefore source-agnostic — swapping
  * rate/memory/kafka changes nothing in the query plan after the parse.
  */
object Sources {

  /** S4/S5: Kafka source, configured like `spark_consumer.py:19-25`
    * (subscribe one topic, latest offsets) plus S2 bounded admission:
    * `maxOffsetsPerTrigger` is the engine-side twin of the reference's
    * bounded ingest queue (`api_server.py:10,59-64` — 10k cap) — it caps
    * rows per micro-batch so a backlog can't blow out executor memory.
    *
    * Returns the configured reader; `.load()` needs the
    * spark-sql-kafka connector on the classpath (not in this sandbox —
    * exercised in tests only up to the option map).
    */
  def kafkaReader(
      spark: SparkSession,
      bootstrapServers: String,
      topic: String = "emoji_topic",
      startingOffsets: String = "latest",
      maxOffsetsPerTrigger: Option[Long] = Some(10000L),
      groupId: Option[String] = None): DataStreamReader = {
    val r = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
    val withCap =
      maxOffsetsPerTrigger.fold(r)(n => r.option("maxOffsetsPerTrigger", n.toString))
    // S5: the reference runs one consumer GROUP per downstream role
    // (analytics_consumer, cluster_consumer_<uuid>) so each role sees the
    // full stream; the Spark twin is one streaming query per role, with
    // the group id pinned for broker-side quota/monitoring parity.
    groupId.fold(withCap)(g => withCap.option("kafka.group.id", g))
  }

  /** Kafka `value` bytes → the engine wire column. Split out so tests can
    * apply it to a static frame with the Kafka schema. */
  def kafkaValue(df: DataFrame): DataFrame =
    df.select(col("value").cast("string").as("value"))

  /** S6: synthetic generator twin of `client.py:43-53,105-119` — the rate
    * source's (timestamp, value) rows become JSON envelopes: uuid-ish user
    * ids, round-robin pick from the 10-emoji vocabulary, ISO-micros
    * timestamps. Works on both `spark.readStream.format("rate")` output and
    * any static frame with the same two columns (used by tests).
    */
  def envelopeFromRate(rate: DataFrame): DataFrame =
    rate.select(
      to_json(struct(
        concat(lit("user-"), pmod(col("value"), lit(1000L))).as("user_id"),
        element_at(
          array(Schemas.emojiVocab.map(lit): _*),
          (pmod(col("value"), lit(10L)) + 1).cast("int")).as("emoji_type"),
        date_format(col("timestamp"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").as("timestamp")
      )).as("value"))

  /** File source: a drop directory of newline-delimited JSON envelopes —
    * the no-broker twin of the Kafka topic (each line = one `value`).
    * `maxFilesPerTrigger` is the file-source flavor of S2 bounded
    * admission. Exactly-once with a sink checkpoint: files are tracked in
    * the source log, so restart resumes instead of re-reading. */
  def envelopeFiles(spark: SparkSession, path: String,
                    maxFilesPerTrigger: Int = 100): DataFrame =
    spark.readStream.format("text")
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .load(path)
      .select(col("value"))
}
