package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Wall clock in epoch microseconds, with nanoTime resolution. Every
  * timestamp the benchmark compares (generator due times, subscriber
  * receive times, listener job intervals) goes through it, so they
  * share one time base. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
  def sleepUntilUs(tUs: Long): Unit = {
    val d = tUs - nowUs()
    if (d > 0) Thread.sleep(d / 1000L, ((d % 1000L) * 1000L).toInt)
  }
}

/** One traced interval: name, start, end (epoch µs), the span that
  * caused it and the trace (batch, read or tier phase) it belongs to. */
final case class Span(name: String, trace: String, parent: String,
                      startUs: Long, endUs: Long)

/** Spans kept in memory and written once, at the end of the run. When
  * disabled every call is a plain pass-through. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()

  def span[A](name: String, trace: String, parent: String = "")(f: => A): A =
    if (!enabled) f
    else {
      val s = Clock.nowUs()
      try f finally spans.add(Span(name, trace, parent, s, Clock.nowUs()))
    }

  def add(name: String, trace: String, parent: String, startUs: Long, endUs: Long): Unit =
    if (enabled) spans.add(Span(name, trace, parent, startUs, endUs))

  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val sb = new StringBuilder
    all.sortBy(_.startUs).foreach { s =>
      sb ++= s"""{"name":${Json.str(s.name)},"trace":${Json.str(s.trace)},"parent":${Json.str(s.parent)},"start_us":${s.startUs},"end_us":${s.endUs}}\n"""
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Engine-wide counters from a `SparkListener`: every job interval and
  * every finished task, with timestamps, so a phase's counts are taken
  * over exactly that phase's time windows. */
final class EngineListener extends SparkListener {
  private final class Job(val startMs: Long) { @volatile var endMs: Long = Long.MaxValue }
  private final case class Task(endMs: Long, cpuNs: Long, gcMs: Long, shuffleBytes: Long,
                                spillBytes: Long, schedMs: Long)

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val stageEnds = new ConcurrentLinkedQueue[java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.put(e.jobId, new Job(e.time))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageEnds.add(java.lang.Long.valueOf(
      e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) {
      val sched = i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime
      tasks.add(Task(i.finishTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, math.max(0L, sched)))
    }
  }

  /** Listener events arrive asynchronously; give the bus a moment to
    * deliver the events of work that has just finished. */
  def settle(): Unit = Thread.sleep(300)

  private def in(ws: Seq[(Long, Long)], ms: Long): Boolean =
    ws.exists { case (a, b) => ms * 1000L >= a && ms * 1000L <= b }

  def jobsIn(ws: Seq[(Long, Long)]): Int = jobs.values.asScala.count(j => in(ws, j.startMs))

  /** Engine counters over the windows `ws` (epoch µs, disjoint). */
  def window(ws: Seq[(Long, Long)]): Map[String, Double] = {
    val js = jobs.values.asScala.toSeq.filter(j => in(ws, j.startMs))
    val ts = tasks.asScala.toSeq.filter(t => in(ws, t.endMs))
    // job intervals clipped to their window: the union is time some job
    // ran, the rest of the wall is driver-only time
    val iv = js.map { j =>
      val b = ws.find { case (a, b) => j.startMs * 1000L >= a && j.startMs * 1000L <= b }.get._2
      (j.startMs, math.min(j.endMs, b / 1000L))
    }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    // most jobs running at once: sweep over the start/end events
    val events = iv.flatMap { case (s, e) => Seq((s, 1), (e, -1)) }.sortBy(x => (x._1, x._2))
    val maxConcurrent = events.scanLeft(0)(_ + _._2).max
    val wallMs = ws.map { case (a, b) => (b - a) / 1000L }.sum
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> stageEnds.asScala.count(t => in(ws, t)).toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.sched_delay_s" -> ts.map(_.schedMs).sum / 1e3,
      "spark.shuffle_bytes" -> ts.map(_.shuffleBytes).sum.toDouble,
      "spark.spill_bytes" -> ts.map(_.spillBytes).sum.toDouble,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "spark.max_concurrent_jobs" -> maxConcurrent.toDouble,
      "spark.driver_gap_s" -> math.max(0L, wallMs - covered) / 1e3)
  }
}

object Stats {
  /** Percentile with linear interpolation between order statistics (the
    * numpy default), so a value keeps all its digits. */
  def pct(sorted: Array[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = q * (sorted.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(sorted.length - 1, lo + 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  def pct(xs: Iterable[Double], q: Double): Double = pct(xs.toArray.sorted, q)

  def median(xs: Iterable[Double]): Double = pct(xs, 0.5)

  /** The highest of p99/p95/p90/p75 with at least ten samples beyond
    * it; p50 when there are too few samples for any of them. */
  def tailQ(n: Int): Double =
    Seq(0.99, 0.95, 0.90, 0.75).find(q => n * (1 - q) >= 10).getOrElse(0.5)

  /** Heap retained after full collections, in MB: strongly reachable
    * objects only. Spark's context cleaner frees the blocks of broadcasts
    * and checkpoints nothing references any more on its own thread, once
    * a collection has found them unreachable, and later when the host is
    * busy; so collect every 250 ms until three readings in a row agree to
    * within 1 MB (at most 12 collections).
    * Softly reachable caches would survive `System.gc()` for minutes
    * (and left a 32 MB step between runs), so each collection is forced
    * by an allocation larger than the heap: the JVM clears every soft
    * reference before it gives up on one. */
  def heapLiveMb(): Double = {
    def collected(): Double = {
      try { val a = new Array[Long](Int.MaxValue / 2); a(0) = 1L }
      catch { case _: OutOfMemoryError => () }
      ManagementFactoryHolder.mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    val readings = ArrayBuffer(collected())
    def settled = readings.size >= 3 &&
      readings.takeRight(3).max - readings.takeRight(3).min < 1.0
    while (!settled && readings.size < 12) {
      Thread.sleep(250)
      readings += collected()
    }
    readings.last
  }

  private object ManagementFactoryHolder {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
}

/** The run's per-layer metrics by name; their units are listed once,
  * in `Main.layerUnits`. */
final class Metrics {
  private val m = scala.collection.mutable.LinkedHashMap[String, Double]()
  def put(name: String, v: Double): Unit = m(name) = v
  def ++=(kv: Map[String, Double]): Unit = m ++= kv
  def toMap: Map[String, Double] = m.toMap
}

/** Small counter bag shared by the workloads: operations attempted and
  * failed, plus the first few failure messages for stderr. */
final class Outcome {
  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)
  private val problems = ArrayBuffer[String]()
  def problem(msg: String): Unit = synchronized {
    if (problems.size < 20) problems += msg
  }
  def problemList: Seq[String] = synchronized(problems.toList)
  def correct: Boolean = problemList.isEmpty
}
