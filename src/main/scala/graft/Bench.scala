package graft

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables

/** Registry benchmark: times every registered query at
  * `SPARK_GRAFT_SF_DIR` under one fixed protocol and prints one summary
  * JSON line.
  *
  * Protocol:
  *  - a query runs its full physical plan by writing to the built-in
  *    `noop` sink; `count()` would let Catalyst prune final projections
  *    and output sorts;
  *  - one untimed `flagship` run absorbs JVM, codegen and parquet-footer
  *    warm-up;
  *  - the calibration vector ([[CalibrationQueries]]) runs next, each
  *    query 1 warm + 2 timed reps, min recorded. It is taken from the
  *    full registry, so a run restricted by `SPARK_GRAFT_QUERIES`
  *    calibrates the same way;
  *  - [[Reps]] interleaved passes over the selected queries ([[run]]):
  *    pass `r` runs them in the shuffle order seeded `0xC0FFEE + r`, so a
  *    load burst lands on a different query set in each pass. A query is
  *    priced at the median of its reps; `value_best` sums each query's
  *    best rep, the floor that contention cannot raise;
  *  - a rep that throws leaves its query's median and best. A query with
  *    no good rep is listed in `failed` and left out of every sum, never
  *    priced at its time-to-exception;
  *  - the 1-min system load average is sampled once, before any Spark
  *    work, as `load_ambient`: any later sample carries the bench's own
  *    load.
  *
  * Environment: `SPARK_GRAFT_SF_DIR` (fixture directory),
  * `SPARK_GRAFT_CPUS` (local cores and shuffle partitions),
  * `SPARK_GRAFT_QUERIES=a,b,c` (restricts the timed set).
  *
  * Output: the consumer keeps only a ~2000-char tail of stdout, so the
  * run prints one line, at 2 dp: `value` (sum of medians),
  * `value_best`, `calibration`, per-family median sums (`families`),
  * `n_failed`, `failed` and `load_ambient`. Medians, min/max spreads,
  * per-rep times in pass order, `failed_reps` and `pass_order` go to
  * `BENCH_DETAIL.json` in the working directory, at 3 dp. The log level
  * is ERROR so that no log line follows the summary.
  */
object Bench {

  /** Box-speed calibration: one scan-bound, one shuffle-bound, one
    * similarity inner-loop and one stream-replay query. A name missing
    * from the registry costs its calibration entry (logged), not the
    * run. */
  val CalibrationQueries: Seq[String] =
    Seq("value_stats", "flagship", "knn_exact", "stream_flagship_replay")

  /** Interleaved passes per run. */
  val Reps = 3

  /** One interleaved run over `names`. `times(i)(r)` is query `i`'s wall
    * time in pass `r`, failed reps included; `failedRep(i)(r)` marks a
    * rep that threw; `order(r)` lists the query indices of pass `r` in
    * execution order. */
  final case class Run(names: IndexedSeq[String], order: IndexedSeq[Seq[Int]],
                       times: IndexedSeq[IndexedSeq[Double]],
                       failedRep: IndexedSeq[IndexedSeq[Boolean]]) {
    /** Query `i`'s reps that did not throw, in pass order. */
    def good(i: Int): Seq[Double] =
      times(i).indices.filterNot(failedRep(i)).map(times(i))
    /** Queries with no good rep. */
    def failed: Seq[String] = names.indices.filter(good(_).isEmpty).map(names)
    /** (name, good reps) of every query with at least one good rep. */
    def priced: Seq[(String, Seq[Double])] =
      names.indices.map(i => names(i) -> good(i)).filter(_._2.nonEmpty)
    def value: Double = priced.map(p => median(p._2)).sum
    def valueBest: Double = priced.map(_._2.min).sum
  }

  def median(ts: Seq[Double]): Double = ts.sorted.apply(ts.length / 2)

  /** Runs `reps` passes over `queries`, pass `r` in the shuffle order
    * seeded `0xC0FFEE + r`. A rep that throws is logged to stderr and
    * marked failed; the run goes on. */
  def run(queries: IndexedSeq[(String, () => Unit)], reps: Int): Run = {
    val n = queries.size
    val order = (0 until reps).map { r =>
      new scala.util.Random(0xC0FFEE + r).shuffle((0 until n).toList)
    }
    val times = Array.fill(n, reps)(0.0)
    val failedRep = Array.fill(n, reps)(false)
    for (r <- 0 until reps; i <- order(r)) {
      val (name, thunk) = queries(i)
      val t0 = System.nanoTime()
      try thunk() catch { case e: Throwable =>
        failedRep(i)(r) = true
        System.err.println(s"[bench] $name rep $r FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      times(i)(r) = (System.nanoTime() - t0) / 1e9
    }
    Run(queries.map(_._1), order,
      times.map(_.toIndexedSeq).toIndexedSeq, failedRep.map(_.toIndexedSeq).toIndexedSeq)
  }

  private def exec(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def fmt(v: Double): String = f"$v%.3f"

  /** 2 dp with trailing zeros stripped ("0.50" → "0.5", "2.00" → "2"):
    * still valid JSON numbers, and every char of the summary line
    * competes for the consumer's stdout tail. */
  private def fmt2(v: Double): String = {
    val s = f"$v%.2f"
    if (s.contains('.')) s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
    else s
  }

  private def str(s: String): String = "\"" + s + "\""
  private def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
  private def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val startNanos = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSet)
    val ambient = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.nanosAsLongConf._1, Tables.nanosAsLongConf._2)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR, not WARN: the CC unpersist path logs a WARN per freed
    // checkpoint
    spark.sparkContext.setLogLevel("ERROR")

    try exec(SparkEntry.queries("flagship")(spark, sfDir))
    catch { case _: Throwable => () }

    val calibration: Seq[(String, Double)] = CalibrationQueries.flatMap { name =>
      SparkEntry.queries.get(name) match {
        case None =>
          System.err.println(s"[bench] calibration query '$name' not in registry - skipped")
          None
        case Some(fn) =>
          try {
            exec(fn(spark, sfDir)) // warm
            val ts = (1 to 2).map { _ =>
              val t0 = System.nanoTime(); exec(fn(spark, sfDir))
              (System.nanoTime() - t0) / 1e9
            }
            Some(name -> ts.min)
          } catch { case e: Throwable =>
            System.err.println(s"[bench] calibration '$name' FAILED: ${e.getClass.getSimpleName}")
            None
          }
      }
    }

    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (n, fn) => n -> (() => exec(fn(spark, sfDir))) }
      .toIndexedSeq
    val res = run(selected, Reps)
    val names = res.names
    val medians = res.priced.map { case (n, ts) => n -> median(ts) }
    val failedJson = arr(res.failed.map(str))

    val detail = obj(Seq(
      "metric" -> str("total"), "value" -> fmt(res.value),
      "value_best" -> fmt(res.valueBest), "unit" -> str("sec"),
      "reps" -> Reps.toString,
      "calibration" -> obj(calibration.map { case (n, t) => n -> fmt(t) }),
      "n_failed" -> res.failed.size.toString, "failed" -> failedJson,
      "failed_reps" -> obj(names.indices.collect {
        case i if res.failedRep(i).contains(true) =>
          names(i) -> arr((0 until Reps).filter(res.failedRep(i)).map(_.toString))
      }),
      "queries" -> obj(medians.map { case (n, m) => n -> fmt(m) }),
      "spread" -> obj(res.priced.map { case (n, ts) => n -> arr(Seq(fmt(ts.min), fmt(ts.max))) }),
      "reps_detail" -> obj(names.indices.map(i => names(i) -> arr(res.times(i).map(fmt)))),
      "pass_order" -> arr(res.order.map(p => arr(p.map(i => str(names(i)))))),
      "load_ambient" -> fmt2(ambient),
      "elapsed_sec" -> fmt((System.nanoTime() - startNanos) / 1e9),
      "sf" -> str(sfDir)))
    Files.write(Paths.get("BENCH_DETAIL.json"), (detail + "\n").getBytes(UTF_8))

    // family count is bounded by name prefixes, not registry size, so
    // this line stays inside the stdout tail as the registry grows
    val families = medians.groupBy(_._1.takeWhile(_ != '_')).toSeq.sortBy(_._1)
      .map { case (f, ms) => f -> fmt2(ms.map(_._2).sum) }
    println(obj(Seq(
      "metric" -> str("total"), "value" -> fmt2(res.value),
      "value_best" -> fmt2(res.valueBest), "unit" -> str("sec"),
      "reps" -> Reps.toString, "n_queries" -> medians.size.toString,
      "n_failed" -> res.failed.size.toString, "failed" -> failedJson,
      "calibration" -> obj(calibration.map { case (n, t) => n -> fmt2(t) }),
      "load_ambient" -> fmt2(ambient), "families" -> obj(families),
      "queries_detail" -> str("BENCH_DETAIL.json"), "sf" -> str(sfDir))))
    System.out.flush()
    spark.stop()
  }
}
