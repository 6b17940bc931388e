package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Windowed aggregation core — SURVEY.md §2.3 (A1-A7) + §2.2 (P5-P7).
  *
  * Pure `DataFrame => DataFrame` transforms, shared verbatim between the
  * batch oracle queries and the Structured Streaming pipeline (the plans
  * are identical; streaming adds watermark + state on top).
  *
  * Scale notes (100 TB design point):
  *  - every aggregate here is a hash aggregate with map-side partial
  *    aggregation; the shuffle key is (minute, type) whose cardinality is
  *    tiny (minutes × |vocab|), so the reduce side is never the bottleneck;
  *  - `retained` brings one value to the driver, the global max minute,
  *    once when the frame is built.
  */
object WindowAgg {

  /** P5: assign each event to its minute bucket (`analytical_server.py:29`). */
  def withMinute(df: DataFrame, tsCol: String = "ts"): DataFrame =
    df.withColumn("minute", date_trunc("minute", col(tsCol)))

  /** A1/A2: per-(minute, type) counts — the flagship aggregate
    * (`spark_consumer.py:40-42`, `analytical_server.py:22-47`). */
  def minuteTypeCounts(df: DataFrame, typeCol: String, tsCol: String = "ts"): DataFrame =
    withMinute(df, tsCol)
      .groupBy(col("minute"), col(typeCol))
      .agg(count(lit(1)).as("cnt"))

  /** A3: per-minute global counts (`analytical_server.py:54-61`). */
  def minuteTotals(df: DataFrame, tsCol: String = "ts"): DataFrame =
    withMinute(df, tsCol).groupBy(col("minute")).agg(count(lit(1)).as("total_count"))

  /** P6: `scaled_count = 1 if count<=1000 else count/1000`
    * (`spark_consumer.py:43-46`; mixed int/double → double). */
  def scaledCount(cnt: Column): Column =
    when(cnt <= Schemas.scalingThreshold, lit(1.0))
      .otherwise(cnt / lit(Schemas.scalingThreshold.toDouble))
      .cast("double")

  /** A4: rolling retention — keep only rows whose minute is within
    * `minutes` of the global max minute (`analytical_server.py:13,48-61`).
    *
    * The horizon is fixed when the frame is built: building runs the
    * max-minute aggregate once, and every later action filters against
    * that constant. A file-backed frame already snapshots its file
    * listing the same way. `serve.TimeSeries` goes one step further for
    * such a frame's count frames: each is collected on its first read
    * and later reads answer from those rows with no Spark job. Rebuild
    * the frame to move both the horizon and the dashboard's answer.
    * Over empty input the max is null, so the filter keeps no rows.
    */
  def retained(df: DataFrame, tsCol: String = "ts",
               minutes: Int = Schemas.retentionMinutes): DataFrame = {
    val withM = withMinute(df, tsCol)
    val maxMicros = withM.agg(unix_micros(max(col("minute")))).head().get(0)
    withM.filter(col("minute") >=
      timestamp_micros(lit(maxMicros).cast("long")) - expr(s"INTERVAL $minutes MINUTES"))
  }

  /** A5+A6+A7: window stats — total events, per-type breakdown handled by
    * callers; this gives the scalar stats row (`analytical_server.py:96-109`,
    * dashboard A7 `countDistinct`). */
  def windowStats(df: DataFrame, typeCol: String): DataFrame =
    df.agg(
      count(lit(1)).as("total_events"),
      countDistinct(col(typeCol)).as("distinct_types"))

  /** §2.6 dashboard align-and-pivot (`analytical_server.py:499-527`):
    * minute × type count matrix with explicit vocabulary (no extra pass to
    * discover pivot values — important at scale) and 0-fill. */
  def pivotMinuteByType(df: DataFrame, typeCol: String, vocab: Seq[String],
                        tsCol: String = "ts"): DataFrame =
    withMinute(df, tsCol)
      .groupBy(col("minute"))
      .pivot(typeCol, vocab)
      .agg(count(lit(1)))
      .na.fill(0, vocab)
}
