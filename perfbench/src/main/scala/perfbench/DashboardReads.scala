package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.{Schemas, Tables, WindowAgg}
import graft.serve.TimeSeries

/** dashboard_reads: a closed loop, one client calling the three
  * dashboard endpoints (`TimeSeries.emojiDataJson` / `totalDataJson` /
  * `statsJson`) back to back over `WindowAgg.retained` →
  * `minuteTypeCounts` / `minuteTotals` of a seeded `events` table shaped
  * like the sf0.1 fixture (100k rows over 30 days), read through
  * `Tables.events`. Small reads bound by Catalyst
  * planning and job scheduling; the only workload on `serve`,
  * `WindowAgg` and `Tables`.
  *
  * The reads are batch because `Pipeline.flagship` emits only
  * `scaled_count`, while `TimeSeries.windowedToMinute` needs a raw
  * count: the live dashboard path is not wired in the library. */
object DashboardReads extends Workload {
  val name = "dashboard_reads"

  val NEvents = 100000

  final case class Frames(counts: DataFrame, totals: DataFrame)

  val endpoints: Seq[(String, Frames => String)] = Seq(
    "emoji-data" -> (f => TimeSeries.emojiDataJson(f.counts, "event_type")),
    "total-data" -> (f => TimeSeries.totalDataJson(f.totals)),
    "stats" -> (f => TimeSeries.statsJson(f.counts, "event_type")))

  def prepare(ctx: Ctx, dir: java.nio.file.Path, ev: Array[Corpus.Event]): Frames = {
    val spark = ctx.spark
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    spark.createDataFrame(java.util.Arrays.asList(ev.map(e =>
        Row(e.eventId, new java.sql.Timestamp(e.tsUs / 1000L), e.userId, e.eventType, e.value)): _*),
        schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val ret = WindowAgg.retained(Tables.events(spark, dir.toString))
    Frames(WindowAgg.minuteTypeCounts(ret, "event_type"), WindowAgg.minuteTotals(ret))
  }

  /** Plain-Scala recomputation of the three JSON documents. */
  def expected(ev: Array[Corpus.Event]): Map[String, String] = {
    val minuteUs = 60000000L
    val minutes = ev.map(e => Math.floorDiv(e.tsUs, minuteUs) * minuteUs)
    val maxM = minutes.max
    val kept = ev.indices.filter(i => minutes(i) >= maxM - Schemas.retentionMinutes * minuteUs)
    val counts = kept.groupBy(i => (minutes(i), ev(i).eventType)).view.mapValues(_.size.toLong).toMap
    val totals = kept.groupBy(minutes(_)).view.mapValues(_.size.toLong).toMap
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
    def ts(us: Long) = fmt.format(java.time.Instant.ofEpochSecond(us / 1000000L))
    def point(m: Long, n: Long) = s"""{"timestamp":"${ts(m)}","count":$n}"""
    // Spark orders strings by their UTF-8 bytes
    val byUtf8: Ordering[String] = (a: String, b: String) =>
      java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))
    val types = counts.keys.map(_._2).toSeq.distinct.sorted(byUtf8)
    val emoji = types.map { t =>
      val series = counts.collect { case ((m, tt), n) if tt == t => (m, n) }.toSeq.sorted
      s""""$t":${series.map { case (m, n) => point(m, n) }.mkString("[", ",", "]")}"""
    }.mkString("{", ",", "}")
    val total = totals.toSeq.sorted.map { case (m, n) => point(m, n) }.mkString("[", ",", "]")
    val breakdown = types.map { t =>
      s""""$t":${counts.collect { case ((_, tt), n) if tt == t => n }.sum}"""
    }.mkString("{", ",", "}")
    val stats = s"""{"total_emojis":${kept.size},"emoji_breakdown":$breakdown,"window_minutes":${Schemas.retentionMinutes}}"""
    Map("emoji-data" -> emoji, "total-data" -> total, "stats" -> stats)
  }

  /** Catalyst phase times and execution time of every finished action. */
  final class PlanTimes extends QueryExecutionListener {
    val planMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val execMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      planMs.add(Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs.toDouble).sum)
      execMs.add(durationNs / 1e6)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val out = new Outcome
    val layers = new Metrics
    val ev = Corpus.events(ctx.seed, NEvents)
    val want = expected(ev)

    // set-up, repeated: write the table, build the frames, first read of
    // each endpoint (cold planning and code generation)
    val setupReps = ArrayBuffer[Double]()
    var frames: Frames = null
    for (rep <- 0 until 3) {
      val t = System.nanoTime()
      frames = prepare(ctx, ctx.dir(s"events$rep"), ev)
      endpoints.foreach { case (_, call) => call(frames) }
      setupReps += (System.nanoTime() - t) / 1e9
    }

    val planTimes = new PlanTimes
    if (ctx.traced) spark.listenerManager.register(planTimes)
    val lat = ArrayBuffer[Double]()
    val readWindows = ArrayBuffer[(Long, Long)]()
    val t0 = Clock.nowUs()
    val end = t0 + ctx.seconds * 1000000L
    var n = 0
    while (Clock.nowUs() < end) {
      val (ep, call) = endpoints(n % endpoints.size)
      out.attempted.incrementAndGet()
      val s = Clock.nowUs()
      val got = try Some(ctx.tracer.span(s"TimeSeries.$ep", s"read-$n")(call(frames)))
      catch { case e: Exception => out.problem(s"$ep read failed: $e"); None }
      val e = Clock.nowUs()
      lat += (e - s) / 1000.0
      if (!got.contains(want(ep))) {
        out.failed.incrementAndGet()
        if (got.isDefined) out.problem(s"$ep JSON differs from the recomputation: ${got.get.take(200)} vs ${want(ep).take(200)}")
      }
      readWindows += ((s, e))
      n += 1
    }
    val t1 = Clock.nowUs()
    val heap = Stats.heapLiveMb()

    if (ctx.traced) {
      ctx.listener.foreach { l => l.settle(); layers ++= l.window(Seq((t0, t1))) }
      spark.listenerManager.unregister(planTimes)
      // the endpoints' input frames alone, materialized to the noop sink
      val agg = (0 until 5).map { i =>
        ctx.tracer.span("WindowAgg.noop", s"windowagg-$i") {
          val s = System.nanoTime()
          frames.counts.write.format("noop").mode("overwrite").save()
          frames.totals.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - s) / 1e6
        }
      }
      import scala.jdk.CollectionConverters._
      layers.put("WindowAgg.exec_ms", Stats.median(agg))
      layers.put("TimeSeries.plan_ms", Stats.median(planTimes.planMs.asScala))
      layers.put("TimeSeries.exec_ms", Stats.median(planTimes.execMs.asScala))
      ctx.listener.foreach(l => layers.put("TimeSeries.jobs",
        Stats.median(readWindows.map(w => l.jobsIn(Seq(w)).toDouble))))
    }
    val sorted = lat.toArray.sorted
    System.err.println(f"[perfbench] dashboard_reads: $n reads, p50 ${Stats.pct(sorted, 0.5)}%.1f ms, " +
      f"p90 ${Stats.pct(sorted, 0.9)}%.1f ms, max ${sorted.last}%.1f ms; set-up reps ${setupReps.map(s => f"$s%.2f").mkString("/")} s")
    val e2e = Map(
      "setup_s" -> (ctx.sessionStartS + Stats.median(setupReps)),
      "latency_ms_p50" -> Stats.pct(sorted, 0.5),
      "latency_ms_tail" -> Stats.pct(sorted, Stats.tailQ(sorted.length)),
      "throughput_per_s" -> n / ((t1 - t0) / 1e6),
      "heap_live_mb" -> heap)
    Result(e2e, layers, out)
  }
}
