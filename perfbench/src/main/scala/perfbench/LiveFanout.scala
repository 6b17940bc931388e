package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.core.Schemas
import graft.stream.{Pipeline, Sinks, Sources}

/** live_fanout: the paper's live path at a fixed offered rate. One
  * generator thread is an open loop at `Rate` events/s (`--rate`
  * overrides it, for rate ladders): every `TickMs`
  * it publishes one newline-JSON file of envelopes into a drop
  * directory (by atomic rename), each envelope's `timestamp` being its
  * own due time. The files go through `Sources.envelopeFiles` →
  * `Pipeline.flagshipFromWire` → `Sinks.broadcast` to three subscribers
  * on `Sinks.referenceTrigger` in update mode; each subscriber
  * serializes its rows to JSON and collects them, like the reference's
  * pub/sub clusters.
  *
  * Latency of one event = receive time of the last subscriber for the
  * batch that counted it − the event's due time, so queueing in the
  * drop directory and the trigger wait are both in it. */
object LiveFanout extends Workload {
  val name = "live_fanout"

  val Rate = 100000
  val TickMs = 250
  val Subscribers = 3
  /** Batches before this point are warm-up and not measured (with 4 s,
    * the first measured batch often still started late). */
  val WarmupMs = 6000
  /** Late events (far behind the watermark) start this long after the
    * first tick, once at least two batches have set the watermark, so
    * every one of them is dropped (starting at 4 s, two runs in five
    * counted some). */
  val LateFromMs = 6000
  val LateMinBehindS = 180
  val DrainTimeoutMs = 20000L

  /** Per batch: each subscriber's start and end (epoch µs) and the JSON
    * rows the first subscriber collected. */
  final class BatchRec {
    val start = new Array[Long](Subscribers)
    val end = new Array[Long](Subscribers)
    @volatile var rows: Array[String] = Array.empty
  }

  /** Three subscribers that serialize and collect their rows, timed. */
  final class Fanout(tracer: Tracer) {
    val batches = new ConcurrentHashMap[Long, BatchRec]()
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    val firstFailure = new java.util.concurrent.atomic.AtomicReference[String]()
    def subscribers: Seq[(Long, DataFrame) => Unit] = (0 until Subscribers).map { k =>
      (id: Long, df: DataFrame) => {
        val rec = batches.computeIfAbsent(id, _ => new BatchRec)
        val s = Clock.nowUs()
        val rows = try df.toJSON.collect() catch {
          case e: Throwable =>
            if (failures.incrementAndGet() == 1) firstFailure.set(e.toString.take(300))
            throw e
        }
        val e = Clock.nowUs()
        rec.start(k) = s
        rec.end(k) = e
        if (k == 0) rec.rows = rows
        tracer.add(s"Sinks.sub.$k", s"batch-$id", "Sinks.fanout", s, e)
      }
    }
  }

  /** Collects every progress report of one query. */
  final class Progress(onBatch: StreamingQueryProgress => Unit) extends StreamingQueryListener {
    val all = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      all.add(e.progress)
      onBatch(e.progress)
    }
    def rows: Long = all.asScala.map(_.numInputRows).sum
    def sorted: Seq[StreamingQueryProgress] = all.asScala.toSeq.sortBy(_.batchId)
  }

  def startQuery(spark: SparkSession, drop: Path, ckpt: Path, fan: Fanout): StreamingQuery =
    Sinks.broadcast(
        Pipeline.flagshipFromWire(Sources.envelopeFiles(spark, drop.toString)),
        fan.subscribers)
      .outputMode(OutputMode.Update())
      .trigger(Sinks.referenceTrigger)
      .option("checkpointLocation", ckpt.toString)
      .start()

  /** What one tick publishes. Event times of on-time events are their
    * due times; out-of-order ones are up to 30 s older; late ones are
    * minutes older than the watermark; a few lack a field. */
  final class Generator(seed: Long, drop: Path, gen0Us: Long, lateFromUs: Long,
                        val perTick: Int = Rate * TickMs / 1000) {
    val mix: Mix = Mix(seed)
    private val r = new SplittableRandom(seed * 1000003L + 29L)
    private val w = new EnvelopeWriter(drop)
    val tally = new Tally
    var generated = 0L
    var late = 0L

    def dueEndUs(tick: Int): Long = gen0Us + (tick + 1L) * TickMs * 1000L
    def fileName(tick: Int): String = f"tick-$tick%07d.json"

    /** Fill the writer with tick `tick`'s envelopes. */
    def build(tick: Int): Unit = {
      val endUs = dueEndUs(tick)
      val stepUs = TickMs * 1000.0 / perTick
      var j = 0
      while (j < perTick) {
        val due = endUs - TickMs * 1000L + ((j + 1) * stepUs).toLong
        val emoji = mix.emoji(r)
        val u = r.nextDouble()
        val user = r.nextInt(mix.users)
        if (u < mix.missingFrac) {
          w.line(user, emoji, due, r.nextInt(3))
        } else if (due >= lateFromUs && u < mix.missingFrac + mix.lateFrac) {
          val ts = due - (LateMinBehindS + r.nextInt(60)) * 1000000L
          w.line(user, emoji, ts, -1); late += 1
        } else {
          val ts = if (u > 1.0 - mix.oooFrac) due - (r.nextDouble() * 30e6).toLong else due
          w.line(user, emoji, ts, -1); tally.add(ts, emoji)
        }
        j += 1
      }
      generated += perTick
    }

    def publish(tick: Int): Unit = { w.publish(fileName(tick)); () }
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val out = new Outcome
    val layers = new Metrics
    val setupReps = warmups(ctx, out)

    val drop = ctx.dir("drop")
    val fan = new Fanout(ctx.tracer)
    // ticks end half a tick before each trigger: the processing-time
    // trigger fires on multiples of its interval since the epoch, so a
    // fixed phase keeps the wait for the trigger the same in every run
    val triggerUs = 2000000L
    val gen0 = ((Clock.nowUs() + 500000L) / triggerUs + 1) * triggerUs + TickMs * 500L
    val m0 = gen0 + WarmupMs * 1000L
    val m1 = m0 + ctx.seconds * 1000000L
    val ticks = ((m1 - gen0) / (TickMs * 1000L)).toInt
    val gen = new Generator(ctx.seed, drop, gen0, gen0 + LateFromMs * 1000L,
      ctx.rate.getOrElse(Rate) * TickMs / 1000)
    val perTick = gen.perTick
    // committed files are deleted, so listing cost does not creep with
    // run length; a batch's files are the next numInputRows / perTick
    // ticks in publish order
    @volatile var deletedUpTo = 0
    val consumedRows = new java.util.concurrent.atomic.AtomicLong(0)
    val progress = new Progress(p => {
      val upTo = (consumedRows.addAndGet(p.numInputRows) / perTick).toInt
      while (deletedUpTo < upTo) {
        Files.deleteIfExists(drop.resolve(gen.fileName(deletedUpTo)))
        deletedUpTo += 1
      }
    })
    spark.streams.addListener(progress)
    val q = startQuery(spark, drop, ctx.dir("ckpt"), fan)

    // the open loop: build tick i ahead of time, publish at its due end
    val pubUs = new Array[Long](ticks)
    var busyUs = 0L
    val genThread = new Thread(() => {
      var i = 0
      while (i < ticks) {
        val b0 = Clock.nowUs()
        gen.build(i)
        val b1 = Clock.nowUs()
        Clock.sleepUntilUs(gen.dueEndUs(i))
        val p0 = Clock.nowUs()
        gen.publish(i)
        pubUs(i) = Clock.nowUs()
        busyUs += (b1 - b0) + (pubUs(i) - p0)
        i += 1
      }
    }, "perfbench-generator")
    genThread.setDaemon(true)
    genThread.start()
    genThread.join()

    // drain: every published row must come out before the query stops
    val drainDeadline = System.currentTimeMillis() + DrainTimeoutMs
    while (progress.rows < gen.generated && System.currentTimeMillis() < drainDeadline)
      Thread.sleep(50)
    Thread.sleep(200) // the last progress report may trail its batch
    val heap = Stats.heapLiveMb()
    // stop between triggers: stopping cancels the jobs of a running batch
    // (the no-data batch that evicts state), and that batch's subscriber
    // would fail from the cancellation
    while (q.isActive && q.status.isTriggerActive) Thread.sleep(5)
    q.stop()
    spark.streams.removeListener(progress)
    q.exception.foreach(e => out.problem(s"query failed: $e"))

    // ---- per-event latency over the measured window ----
    val ps = progress.sorted
    val batchOfTick = new Array[Long](ticks)
    java.util.Arrays.fill(batchOfTick, -1L)
    var cum = 0L
    ps.foreach { p =>
      val from = (cum / perTick).toInt
      cum += p.numInputRows
      val to = math.min(ticks, (cum / perTick).toInt)
      (from until to).foreach(t => batchOfTick(t) = p.batchId)
    }
    val delivered = ps.map(_.batchId).flatMap(b => Option(fan.batches.get(b)).map(b -> _.end.max)).toMap
    val lat = ArrayBuffer[Double]()
    val stepUs = TickMs * 1000.0 / perTick
    for (t <- 0 until ticks) {
      val endUs = gen.dueEndUs(t)
      if (endUs > m0 && endUs <= m1) {
        out.attempted.addAndGet(perTick)
        delivered.get(batchOfTick(t)) match {
          case Some(d) =>
            var j = 0
            while (j < perTick) {
              val due = endUs - TickMs * 1000L + ((j + 1) * stepUs).toLong
              lat += (d - due) / 1000.0
              j += 1
            }
          case None => out.failed.addAndGet(perTick)
        }
      }
    }
    val sorted = lat.toArray
    java.util.Arrays.sort(sorted)

    // ---- checks ----
    if (progress.rows != gen.generated) {
      out.problem(s"${gen.generated - progress.rows} of ${gen.generated} events were not consumed within the drain period")
    }
    // the state operator counts late rows after partial aggregation, so
    // this is a count of dropped (partition, window, emoji) partials, not
    // of events; the late events themselves must be absent from the
    // delivered groups, which checkCounts verifies
    val dropped = ps.flatMap(_.stateOperators.headOption).map(_.numRowsDroppedByWatermark).sum
    if ((dropped > 0) != (gen.late > 0))
      out.problem(s"${gen.late} late events generated, $dropped rows dropped by the watermark")
    val last = lastDelivered(ps.map(_.batchId).flatMap(b => Option(fan.batches.get(b)).map(_.rows)))
    checkCounts(gen.tally, last, out)
    if (fan.failures.get > 0) {
      out.failed.addAndGet(fan.failures.get)
      out.problem(s"${fan.failures.get} subscriber calls failed, the first with ${fan.firstFailure.get}")
    }

    // ---- sustained at the offered rate? ----
    val genLagMs = pubUs.indices.map(i => (pubUs(i) - gen.dueEndUs(i)) / 1000.0)
    // steady batches: triggered inside the measured window, with input
    val steady = ps.filter { p =>
      val t = parseTs(p.timestamp)
      t >= m0 && t < m1 && p.numInputRows > 0
    }
    val lagMs = steady.map { p =>
      val lastTick = batchOfTick.lastIndexWhere(_ == p.batchId)
      (parseTs(p.timestamp) - gen.dueEndUs(lastTick)) / 1000.0
    }
    val (firstHalf, secondHalf) = lagMs.splitAt(lagMs.size / 2)
    val lagGrowth =
      if (firstHalf.isEmpty || secondHalf.isEmpty) 0.0
      else Stats.median(secondHalf) - Stats.median(firstHalf)
    val unsustained = genLagMs.max > TickMs || lagGrowth > TickMs
    // a run that did not keep up with its offered rate measured another
    // load than the one it reports: it fails
    if (unsustained)
      out.problem(f"live_fanout unsustained at ${ctx.rate.getOrElse(Rate)}%d events/s: generator late by up to ${genLagMs.max}%.0f ms, source lag grew ${lagGrowth}%.0f ms")

    // ---- per-layer (traced run) ----
    if (ctx.traced) {
      def d(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val exec = steady.map(d(_, "triggerExecution"))
      val st = steady.flatMap(_.stateOperators.headOption)
      val recs = steady.flatMap(p => Option(fan.batches.get(p.batchId)))
      val sub = (0 until Subscribers).map(k => recs.map(r => (r.end(k) - r.start(k)) / 1000.0))
      layers.put("Sources.list_ms", Stats.median(steady.map(d(_, "latestOffset"))))
      layers.put("Sources.lag_ms", Stats.median(lagMs))
      layers.put("trigger.exec_ms_p50", Stats.pct(exec, 0.5))
      layers.put("trigger.exec_ms_p95", Stats.pct(exec, 0.95))
      layers.put("trigger.plan_ms", Stats.median(steady.map(d(_, "queryPlanning"))))
      layers.put("trigger.wal_ms", Stats.median(steady.map(d(_, "walCommit"))))
      layers.put("trigger.commit_ms", Stats.median(steady.map(d(_, "commitOffsets"))))
      layers.put("trigger.rows", Stats.median(steady.map(_.numInputRows.toDouble)))
      layers.put("Pipeline.exec_ms", Stats.median(recs.map(r =>
        (r.end(0) - r.start(0)) / 1000.0 -
          (1 until Subscribers).map(k => (r.end(k) - r.start(k)) / 1000.0).sum / (Subscribers - 1))))
      // consumed rows neither counted (checkCounts: counted = tally) nor
      // generated late: the envelopes the parse rejected
      layers.put("Ingest.rejected", (progress.rows - gen.tally.total - gen.late).toDouble)
      layers.put("Pipeline.late_dropped", dropped.toDouble)
      layers.put("state.rows", Stats.median(st.map(_.numRowsTotal.toDouble)))
      layers.put("state.bytes", Stats.median(st.map(_.memoryUsedBytes.toDouble)))
      layers.put("state.update_ms", Stats.median(st.map(_.allUpdatesTimeMs.toDouble)))
      layers.put("state.commit_ms", Stats.median(st.map(_.commitTimeMs.toDouble)))
      layers.put("Sinks.fanout_ms", Stats.median(steady.map(d(_, "addBatch"))))
      (0 until Subscribers).foreach(k => layers.put(s"Sinks.sub_ms.$k", Stats.median(sub(k))))
      layers.put("Sinks.sub_failures", fan.failures.get.toDouble)
      steady.foreach { p =>
        val s = parseTs(p.timestamp)
        val tr = s"batch-${p.batchId}"
        ctx.tracer.add("trigger", tr, "", s, s + (d(p, "triggerExecution") * 1000).toLong)
        ctx.tracer.add("Sinks.fanout", tr, "trigger", s, s + (d(p, "addBatch") * 1000).toLong)
      }
      ctx.listener.foreach { l => l.settle(); layers ++= l.window(Seq((m0, m1))) }
    }
    layers.put("gen.lag_ms_max", genLagMs.max)
    layers.put("gen.busy_frac", busyUs.toDouble / (pubUs.last - gen0 + TickMs * 1000L))
    layers.put("gen.unsustained", if (unsustained) 1.0 else 0.0)

    System.err.println(f"[perfbench] live_fanout: ${gen.generated} events in $ticks ticks, " +
      f"${sorted.length} measured, p50 ${Stats.pct(sorted, 0.5)}%.1f ms, p99 ${Stats.pct(sorted, 0.99)}%.1f ms, " +
      f"gen lag max ${genLagMs.max}%.1f ms, source lag ${lagMs.map(v => f"$v%.0f").mkString(",")} ms; " +
      f"set-up: session ${ctx.sessionStartS}%.2f s, reps ${setupReps.map(v => f"$v%.2f").mkString("/")} s")
    val e2e = Map(
      "setup_s" -> (ctx.sessionStartS + Stats.median(setupReps)),
      "latency_ms_p50" -> Stats.pct(sorted, 0.5),
      "latency_ms_tail" -> Stats.pct(sorted, Stats.tailQ(sorted.length)),
      // the rate the pipeline processes live input at: per steady batch,
      // rows per second of trigger execution; the median batch
      "throughput_per_s" -> Stats.median(steady.map(p =>
        p.numInputRows / (p.durationMs.get("triggerExecution").doubleValue / 1e3))),
      "heap_live_mb" -> heap)
    Result(e2e, layers, out)
  }

  private def parseTs(iso: String): Long = {
    val i = java.time.Instant.parse(iso)
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  private val RowRe =
    """\{"emoji_type":"([^"]*)","scaled_count":([^,]+),"window":\{"start":"([^"]+)".*""".r

  /** (window start µs, emoji index) → last delivered scaled_count, over
    * the batches' collected rows in batch order. */
  def lastDelivered(batches: Seq[Array[String]]): Map[(Long, Int), Double] = {
    val idx = Schemas.emojiVocab.zipWithIndex.toMap
    val m = scala.collection.mutable.HashMap[(Long, Int), Double]()
    batches.foreach(_.foreach {
      case RowRe(e, sc, ws) =>
        val ts = java.time.OffsetDateTime.parse(ws).toInstant
        m((ts.getEpochSecond * 1000000L, idx.getOrElse(e, -1))) = sc.toDouble
      case _ => m((Long.MinValue, -1)) = Double.NaN // unparsable row: fails the check
    })
    m.toMap
  }

  /** Every tallied (window, emoji) group's last delivered scaled_count
    * equals the scaling of its tally; no other group was delivered. */
  def checkCounts(tally: Tally, last: Map[(Long, Int), Double], out: Outcome): Unit = {
    def scaled(c: Long): Double =
      if (c <= Schemas.scalingThreshold) 1.0 else c / Schemas.scalingThreshold.toDouble
    val bad = tally.counts.count { case (k, c) => !last.get(k).contains(scaled(c)) }
    val extra = last.keySet.count(k => !tally.counts.contains(k))
    if (bad > 0 || extra > 0)
      out.problem(s"delivered counts: $bad of ${tally.counts.size} groups differ from the tally, $extra unexpected groups")
  }

  /** Set-up, repeated: a fresh query over a small seeded drop directory,
    * run until its input is delivered. Returns each repetition's wall. */
  def warmups(ctx: Ctx, out: Outcome): Seq[Double] = {
    val drop = ctx.dir("warmup-drop")
    val g = new Generator(ctx.seed + 1, drop, 1704067200000000L, Long.MaxValue)
    (0 until 2).foreach { t => g.build(t); g.publish(t) }
    (0 until 3).map { rep =>
      val t = System.nanoTime()
      val fan = new Fanout(new Tracer(false))
      val q = startQuery(ctx.spark, drop, ctx.dir(s"warmup-ckpt$rep"), fan)
      // until every warm-up row is delivered (processAllAvailable would
      // also wait out the no-data batch one trigger later)
      while (q.recentProgress.map(_.numInputRows).sum < g.generated && q.isActive)
        Thread.sleep(20)
      q.stop()
      val last = lastDelivered(fan.batches.asScala.toSeq.sortBy(_._1).map(_._2.rows))
      checkCounts(g.tally, last, out)
      val secs = (System.nanoTime() - t) / 1e9
      secs
    }
  }
}
