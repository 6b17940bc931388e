package graft.serve

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.io.JsonStringEncoder
import com.google.common.collect.MapMaker
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Schemas

/** The reference's three JSON query surfaces
  * (`analytical_server.py:67-109`), produced from any minute-grain count
  * frame — batch (`WindowAgg.minuteTypeCounts`) or a streaming memory-sink
  * table via [[windowedToMinute]]. In update/complete mode the sink
  * already contains the open minute's partial counts, which is exactly the
  * reference's W7 "flush current minute before answering" behavior.
  *
  * Each endpoint collects the minute-grain rows in one action (type,
  * formatted minute, count) and builds the JSON document on the driver,
  * as the reference does from its in-memory counters. The rows reaching
  * the driver are the count frame itself: over a `WindowAgg.retained`
  * input that is at most (retention + 1) minutes × vocabulary, whatever
  * the input volume; the raw stream is never collected. The documents
  * match Spark's `to_json`: keys in UTF-8 byte order, each series ordered
  * by (timestamp, count), strings escaped by Jackson. Minute, key and
  * count must be non-null, and counts integral.
  *
  * A count frame whose answer is fixed when it is built is read from a
  * snapshot: its rows are collected on its first read and kept as long as
  * the frame instance lives; every later read runs the endpoint's
  * projection over a local relation of those rows, which Spark folds at
  * optimization, so it starts no job. A frame is fixed when it is batch,
  * deterministic, and every leaf is a local relation or a file scan
  * whose listing was taken when the frame was built (an
  * `InMemoryFileIndex` outside the catalog), as for
  * `WindowAgg.retained` over `Tables.events`. To see new files, rebuild
  * the frame. Any other frame — a memory sink's table (W7), a catalog
  * table, an RDD — is collected on every read.
  */
object TimeSeries {

  private val isoMinute = "yyyy-MM-dd'T'HH:mm:ss"

  /** Spark's string order: by UTF-8 bytes. */
  private val byUtf8: Ordering[String] =
    (a: String, b: String) => UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /** Adapter: streaming `window(...)` aggregate → minute-grain frame.
    * An update-mode memory sink appends a window's row again on every
    * batch that touches it, and a window's count only grows, so the
    * latest row of each (window, emoji) is the one with the max count. */
  def windowedToMinute(df: DataFrame, countCol: String = "count"): DataFrame =
    df.groupBy(col("window.start").as("minute"), col("emoji_type"))
      .agg(max(col(countCol)).as("cnt"))

  /** Snapshot of each fixed frame read so far; weak keys compare by
    * identity, so an entry lives exactly as long as its frame. */
  private val snapshots: java.util.concurrent.ConcurrentMap[DataFrame, DataFrame] =
    new MapMaker().weakKeys().makeMap()

  /** Leaves of subqueries count too: a fixed outer plan filtered by a
    * subquery over a sink's table still moves with the sink. */
  private def fixed(df: DataFrame): Boolean = {
    val plan = df.queryExecution.analyzed
    !df.isStreaming && plan.deterministic && plan.collectWithSubqueries {
      case _: LocalRelation => true
      case LogicalRelation(r: HadoopFsRelation, _, None, _, _) =>
        r.location.isInstanceOf[InMemoryFileIndex]
      case _: LeafNode => false
    }.forall(identity)
  }

  /** The frame an endpoint projects: the snapshot of a fixed frame
    * (taken on its first read), any other frame itself. */
  private def source(df: DataFrame): DataFrame =
    if (!fixed(df)) df
    else snapshots.computeIfAbsent(df,
      d => d.sparkSession.createDataFrame(d.collect().toSeq.asJava, d.schema))

  private def collectRows(df: DataFrame): Array[Row] = {
    val rows = df.collect()
    rows.foreach(r => require(!r.anyNull, s"null minute, key or count in dashboard row $r"))
    rows
  }

  private def quote(s: String): String = {
    val sb = new java.lang.StringBuilder("\"")
    JsonStringEncoder.getInstance().quoteAsString(s, sb)
    sb.append('"').toString
  }

  /** `[{timestamp, count}…]` ordered by (timestamp, count). */
  private def series(points: Seq[(String, Long)]): String =
    points.sorted(Ordering.Tuple2(byUtf8, Ordering.Long))
      .map { case (ts, n) => s"""{"timestamp":"$ts","count":$n}""" }
      .mkString("[", ",", "]")

  /** `{key: value…}` with keys in UTF-8 order. */
  private def keyed[V](entries: Map[String, V])(value: V => String): String =
    entries.toSeq.sortBy(_._1)(byUtf8)
      .map { case (k, v) => s"${quote(k)}:${value(v)}" }
      .mkString("{", ",", "}")

  /** `/api/emoji-data` (`analytical_server.py:67-81`):
    * `{emoji: [{timestamp, count}…]…}`, series in time order. */
  def emojiDataJson(minuteCounts: DataFrame, typeCol: String = "emoji_type"): String = {
    val rows = collectRows(source(minuteCounts).select(
      col(typeCol), date_format(col("minute"), isoMinute), col("cnt").cast("long")))
    keyed(rows.groupBy(_.getString(0)))(rs => series(rs.map(r => (r.getString(1), r.getLong(2)))))
  }

  /** `/api/total-data` (`analytical_server.py:83-94`):
    * `[{timestamp, count}…]` in time order. */
  def totalDataJson(minuteTotals: DataFrame, countCol: String = "total_count"): String =
    series(collectRows(source(minuteTotals).select(
        date_format(col("minute"), isoMinute), col(countCol).cast("long")))
      .map(r => (r.getString(0), r.getLong(1))))

  /** `/api/stats` (`analytical_server.py:96-109`):
    * `{total_emojis, emoji_breakdown: {emoji: n}, window_minutes}`;
    * an empty window totals 0. */
  def statsJson(minuteCounts: DataFrame, typeCol: String = "emoji_type",
                windowMinutes: Int = Schemas.retentionMinutes): String = {
    val byType = collectRows(source(minuteCounts).select(col(typeCol), col("cnt").cast("long")))
      .groupMapReduce(_.getString(0))(_.getLong(1))(_ + _)
    s"""{"total_emojis":${byType.values.sum},"emoji_breakdown":${keyed(byType)(_.toString)},""" +
      s""""window_minutes":$windowMinutes}"""
  }
}
