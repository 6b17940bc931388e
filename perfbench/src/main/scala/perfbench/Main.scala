package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.core.Tables

/** Everything a workload needs: the session, its seed and measuring
  * time, a private work directory, and the tracing hooks (live only in
  * a `--trace 1` run). */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, work: Path,
                     tracer: Tracer, listener: Option[EngineListener],
                     sessionStartS: Double, rate: Option[Int] = None) {
  def traced: Boolean = tracer.enabled
  def dir(name: String): Path = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p
  }
}

/** A workload's answer: the end-to-end metrics (always), the per-layer
  * metrics (traced run), and the outcome of its output checks. */
final case class Result(e2e: Map[String, Double], layers: Metrics, outcome: Outcome)

trait Workload {
  def name: String
  def run(ctx: Ctx): Result
}

object Main {

  val workloads: Seq[Workload] = Seq(LiveFanout, DashboardReads, CorpusTiers)

  /** End-to-end metrics every workload reports, with their units. */
  val e2eUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "latency_ms_p50" -> "ms",
    "latency_ms_tail" -> "ms",
    "throughput_per_s" -> "1/s",
    "heap_live_mb" -> "MB")

  /** Per-layer metrics every traced run reports; a layer the workload
    * does not exercise reads 0. */
  val layerUnits: Seq[(String, String)] = {
    val stream = Seq(
      "Sources.list_ms" -> "ms", "Sources.lag_ms" -> "ms",
      "trigger.exec_ms_p50" -> "ms", "trigger.exec_ms_p95" -> "ms",
      "trigger.plan_ms" -> "ms", "trigger.wal_ms" -> "ms", "trigger.commit_ms" -> "ms",
      "trigger.rows" -> "count",
      "Pipeline.exec_ms" -> "ms", "Ingest.rejected" -> "count",
      "Pipeline.late_dropped" -> "count",
      "state.rows" -> "count", "state.bytes" -> "bytes",
      "state.update_ms" -> "ms", "state.commit_ms" -> "ms",
      "Sinks.fanout_ms" -> "ms", "Sinks.sub_ms.0" -> "ms", "Sinks.sub_ms.1" -> "ms",
      "Sinks.sub_ms.2" -> "ms", "Sinks.sub_failures" -> "count",
      "gen.lag_ms_max" -> "ms", "gen.busy_frac" -> "ratio", "gen.unsustained" -> "count")
    val dash = Seq(
      "WindowAgg.exec_ms" -> "ms", "TimeSeries.plan_ms" -> "ms",
      "TimeSeries.exec_ms" -> "ms", "TimeSeries.jobs" -> "count")
    val tiers = Seq("Lex", "Ivf", "NearDup").flatMap { t =>
      Seq(s"$t.build_s" -> "s", s"$t.upsert_s" -> "s", s"$t.compact_s" -> "s",
        s"$t.serve_ms" -> "ms", s"$t.jobs" -> "count")
    } :+ ("tiers.cycle_s" -> "s")
    val engine = Seq(
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.task_cpu_s" -> "s", "spark.sched_delay_s" -> "s",
      "spark.shuffle_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
      "spark.gc_s" -> "s", "spark.max_concurrent_jobs" -> "count",
      "spark.driver_gap_s" -> "s")
    // the traced run's own end-to-end figures: minus an untraced run's,
    // they are the tracing overhead
    val traced = e2eUnits.filter(_._1 != "setup_s").map { case (n, u) => s"traced.$n" -> u }
    stream ++ dash ++ tiers ++ engine ++ traced
  }

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    val wlName = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val wl = workloads.find(_.name == wlName)
      .getOrElse(sys.error(s"unknown workload $wlName; one of ${workloads.map(_.name).mkString(", ")}"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toInt).getOrElse(10)
    val trace = arg(args, "--trace").contains("1")
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work is required")))
      .toAbsolutePath
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    val cores = math.max(1, Runtime.getRuntime.availableProcessors() - 1)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$wlName")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config(Tables.nanosAsLongConf._1, Tables.nanosAsLongConf._2)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStartS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(trace)
    val listener = if (trace) {
      val l = new EngineListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None

    val ctx = Ctx(spark, seed, seconds, work, tracer, listener, sessionStartS,
      arg(args, "--rate").map(_.toInt))
    val res = wl.run(ctx)
    arg(args, "--spans").foreach(p => tracer.write(Paths.get(p)))
    res.outcome.problemList.foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))

    val metrics: Seq[(String, Double, String)] =
      if (trace) {
        val got = res.layers.toMap ++ res.e2e.map { case (n, v) => s"traced.$n" -> v }
        layerUnits.map { case (n, u) => (n, got.getOrElse(n, 0.0), u) }
      } else e2eUnits.map { case (n, u) =>
        (n, res.e2e.getOrElse(n, sys.error(s"workload $wlName did not report $n")), u)
      }
    val body = metrics.map { case (n, v, u) =>
      s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString(", ")
    val attempted = math.max(1L, res.outcome.attempted.get)
    spark.stop()
    println(s"""{"correct": ${res.outcome.correct}, "attempted": $attempted, "failed": ${res.outcome.failed.get}, "metrics": {$body}}""")
  }
}
